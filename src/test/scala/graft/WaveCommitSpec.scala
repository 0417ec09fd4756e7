package graft

import java.nio.file.{Files, Path}
import graft.io.IceLite
import graft.rules.{Check, FileRules}
import graft.synth.FilesTable
import graft.validate.{CheckpointedValidation, Profile, Verdicts, Violations}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Wave commits of [[CheckpointedValidation]]: every pending partition
  * lands in one grouped pass per table, so a run's Spark job count does
  * not depend on how many partitions it commits, and the edge
  * partitions of a wave (no violations, escaped names, NULL repo) land
  * and read back like any other. */
class WaveCommitSpec extends AnyFunSuite {
  import TestSpark._
  private implicit val fmts: Formats = DefaultFormats

  private def freshRoot(): String =
    Files.createTempDirectory("wave").toString

  /** The fixture's files with every repo moved into one of `orgs` orgs. */
  private def filesOver(orgs: Int): DataFrame =
    FilesTable.files(spark, sf).withColumn("repo", concat(lit("o"),
      pmod(xxhash64(col("path"), col("commit")), lit(orgs)).cast("string"),
      lit("/r")))

  private def lineageBytes(ice: IceLite, snap: Long): Map[String, (Seq[Byte], Long)] = {
    val dir = ice.lineageDir(snap)
    ice.completedParts(snap).toSeq.map { p =>
      val f: Path = dir.resolve(s"$p.json")
      p -> (Files.readAllBytes(f).toSeq, Files.getLastModifiedTime(f).toMillis)
    }.toMap
  }

  test("a run's Spark job count does not grow with its partition count") {
    val recorder = new GroupJobs
    spark.sparkContext.addSparkListener(recorder)
    val two = filesOver(2).cache()
    val eight = filesOver(8).cache()
    try {
      assert(two.select(Verdicts.org(col("repo"))).distinct().count() === 2)
      assert(eight.select(Verdicts.org(col("repo"))).distinct().count() === 8)
      val j2 = recorder.jobsOf("wave-2") {
        CheckpointedValidation.run(spark, two, FileRules.rowRules, freshRoot())
      }
      val j8 = recorder.jobsOf("wave-8") {
        CheckpointedValidation.run(spark, eight, FileRules.rowRules, freshRoot())
      }
      assert(j2 > 0)
      assert(math.abs(j8 - j2) <= 2, s"2 partitions: $j2 jobs, 8 partitions: $j8 jobs")
      // one aggregate (its shuffle and its collect) and one write per
      // table: the partition list, metrics and verdicts all come from
      // the collected aggregate
      assert(j2 <= 5 && j8 <= 5, s"2 partitions: $j2 jobs, 8 partitions: $j8 jobs")
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      two.unpersist(); eight.unpersist()
    }
  }

  test("a run reads an uncached input at most twice and persists nothing") {
    val path = Files.createTempDirectory("wave-in").resolve("files.parquet").toString
    filesOver(8).write.parquet(path)
    // vectored parquet reads run off the task threads, where task input
    // metrics do not see them
    val input = spark.read.option("parquet.hadoop.vectored.io.enabled", "false").parquet(path)
    val touched = Seq("repo", "path", "commit", "lang", "content", "content_sha256")
    val recorder = new GroupJobs
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    @volatile var running = true
    val seenDuring = java.util.concurrent.ConcurrentHashMap.newKeySet[Set[Int]]()
    val poller = new Thread(() => while (running) {
      seenDuring.add(persisted); Thread.sleep(2)
    })
    sc.addSparkListener(recorder)
    try {
      val scan = recorder.inputBytesOf("noop-scan") {
        input.select(touched.map(col): _*).write.format("noop").mode("overwrite").save()
      }
      poller.start()
      val run = recorder.inputBytesOf("wave-read") {
        CheckpointedValidation.run(spark, input, FileRules.rowRules, freshRoot())
      }
      running = false
      poller.join()
      assert(scan > 0)
      assert(run <= 2 * scan, s"run read $run bytes, one scan of its columns $scan")
      assert(seenDuring.asScala.toSet === Set(before))
      assert(persisted === before)
    } finally {
      running = false
      sc.removeSparkListener(recorder)
    }
  }

  test("crash after 3 of 8 partitions leaves 3 records; resume leaves them " +
    "untouched and completes the snapshot") {
    val eight = filesOver(8).cache()
    try {
      val root = freshRoot()
      intercept[CheckpointedValidation.SimulatedCrash] {
        CheckpointedValidation.run(spark, eight, FileRules.rowRules, root,
          crashAfter = Some(3))
      }
      val ice = new IceLite(root)
      assert(ice.currentSnapshotId === None)
      val before = lineageBytes(ice, 1L)
      assert(before.size === 3)
      Thread.sleep(20) // a rewrite would carry a later mtime
      assert(CheckpointedValidation.run(spark, eight, FileRules.rowRules, root) === 1L)
      val after = lineageBytes(ice, 1L)
      assert(after.size === 8)
      before.foreach { case (p, rec) => assert(after(p) === rec, s"record of $p rewritten") }
      val resumed = CheckpointedValidation.verdicts(spark, root, 1L)
        .select("part", "rule_id", "violation_count", "pass")
      val direct = Verdicts.compute(spark, eight, FileRules.rowRules)
      assert(resumed.exceptAll(direct).count() === 0)
      assert(direct.exceptAll(resumed).count() === 0)
      assert(ice.lineage(spark).agg(sum("rows")).collect()(0).getLong(0) === eight.count())
    } finally eight.unpersist()
  }

  private val cleanContent = "print(1)"

  /** One row per repo; `dirty` rows also break the enum rule. */
  private def rowsOf(repos: Seq[(String, Boolean)]): DataFrame = {
    import spark.implicits._
    repos.zipWithIndex.map { case ((repo, dirty), i) =>
      (repo, s"src/f$i.py", f"abcdef$i%02d", if (dirty) "klingon" else "en",
        cleanContent)
    }.toDF("repo", "path", "commit", "lang", "content")
      .withColumn("content_sha256", sha2(col("content"), 256))
  }

  private def record(ice: IceLite, snap: Long, part: String): JValue = {
    assert(ice.completedParts(snap) === Set(part))
    JsonMethods.parse(Files.readString(ice.lineageDir(snap).resolve(s"$part.json")))
  }

  test("a partition that breaks no rule reads back an empty violations " +
    "table with its schema, listed with zero rows in its record") {
    val root = freshRoot()
    val files = rowsOf(Seq(("clean/a", false), ("clean/b", false)))
    val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    val ice = new IceLite(root)
    val v = ice.readTable(spark, snap, "violations")
    assert(v.count() === 0)
    val expected = Violations.extract(files, FileRules.rowRules).schema
      .map(f => f.name -> f.dataType) :+ ("part" -> org.apache.spark.sql.types.StringType)
    assert(v.schema.map(f => f.name -> f.dataType) === expected)
    val doc = record(ice, snap, "clean")
    assert((doc \ "tables").extract[Seq[String]] === Seq("metrics", "verdicts", "violations"))
    assert((doc \ "tableRows" \ "violations").extract[Long] === 0L)
    assert((doc \ "rows").extract[Long] === 2L)
  }

  test("escaped org names and the NULL-repo sentinel round-trip through a wave") {
    // repo "/x" has an empty org: it lands under its own sentinel too
    val root = freshRoot()
    val files = rowsOf(Seq(("a+b/r", true), ("orgé/r", false), ("sp ace/r", true),
      (null, false), ("plain/r", false), ("/x", false)))
    val snap = CheckpointedValidation.run(spark, files, FileRules.rowRules, root)
    val ice = new IceLite(root)
    val parts = Set("a+b", "orgé", "sp ace", "__null__", "plain", "__empty__")
    assert(ice.snapshotParts(snap).toSet === parts)
    def partsOf(table: String): Set[String] = ice.readTable(spark, snap, table)
      .select("part").distinct().collect().map(_.getString(0)).toSet
    assert(partsOf("verdicts") === parts)
    assert(partsOf("metrics") === parts)
    // pattern_repo on the escaped names and "/x", required_repo on the
    // NULL repo; plain/r breaks nothing and reads back no rows
    assert(partsOf("violations") === parts - "plain")
    def canon(df: DataFrame): Seq[String] =
      df.select("rule_id", "col_name", "repo", "path", "commit", "observed")
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(canon(ice.readTable(spark, snap, "violations")) ===
      canon(Violations.extract(files, FileRules.rowRules)))
    val committed = CheckpointedValidation.verdicts(spark, root, snap)
      .select("part", "rule_id", "violation_count", "pass")
    val direct = Verdicts.compute(spark, files, FileRules.rowRules)
    assert(committed.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(committed).count() === 0)
    assert(ice.lineage(spark).agg(sum("rows")).collect()(0).getLong(0) === 6L)
  }

  /** A [[graft.io.TableIO]] that keeps the rows and schema of every
    * table a run hands to `commitParts`, and commits nothing. */
  private final class Captured extends graft.io.TableIO {
    val tables = scala.collection.mutable.Map.empty[String, (StructType, Seq[Row])]
    def nextSnapshotId: Long = 1L
    def completedParts(snap: Long): Set[String] = Set.empty
    def commitParts(snap: Long, partCol: String, ts: Map[String, DataFrame],
        rows: Map[String, Long]): Unit =
      ts.foreach { case (n, df) => tables(n) = (df.schema, df.collect().toSeq) }
    def commitSnapshot(snap: Long, parts: Seq[String]): Unit = ()
    def readTable(spark: SparkSession, snap: Long, table: String): DataFrame =
      sys.error("not committed")
  }

  /** `n` seeded random rows: every column NULL at times, the repos
    * NULL, `"/x"` and `""` among them, and 30% of rows in one hot org. */
  private def randomFiles(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def sometimes(v: => String): String = if (rnd.nextInt(8) == 0) null else v
    def word(len: Int): String = rnd.alphanumeric.take(1 + rnd.nextInt(len)).mkString
    val repos = Seq[String](null, "/x", "", "a'b/r", "cold/r", "warm/r", "o`d\\/r")
    val rows = (0 until n).map { _ =>
      val content = sometimes(word(40))
      Row(
        if (rnd.nextDouble() < 0.3) "hot/r" else repos(rnd.nextInt(repos.size)),
        sometimes(if (rnd.nextBoolean()) s"src/${word(6)}.py" else word(6)),
        sometimes(f"${rnd.nextInt(1 << 30)}%08x"),
        sometimes(Seq("en", "fr", "klingon")(rnd.nextInt(3))),
        content,
        sometimes(if (content != null && rnd.nextBoolean()) sha256(content) else word(64)))
    }
    val schema = StructType(Seq("repo", "path", "commit", "lang", "content", "content_sha256")
      .map(StructField(_, StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("the wave's verdicts and metrics equal Verdicts.compute and " +
    "Profile.columns on seeded random frames, schemas included") {
    val rules = FileRules.rowRules :+
      Check("odd'id`with\\quotes", "path", col("path").isNull || length(col("path")) < 8)
    val profiled = Seq("repo", "path", "commit", "lang", "content")
    def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted
    (1L to 5L).foreach { seed =>
      val files = randomFiles(seed, 300)
      val io = new Captured
      CheckpointedValidation.run(spark, files, rules, io, None)
      val verdicts = Verdicts.compute(spark, files, rules)
      val metrics = Profile.columns(files.withColumn("part", Verdicts.org(col("repo"))),
        profiled, exact = false, groupBy = Some("part"))
      Seq("verdicts" -> verdicts, "metrics" -> metrics).foreach { case (name, want) =>
        val (schema, rows) = io.tables(name)
        assert(schema === want.schema, s"seed $seed: $name schema")
        assert(sorted(rows) === sorted(want.collect().toSeq), s"seed $seed: $name rows")
      }
      assert(io.tables("verdicts")._2.map(_.getString(0)).toSet ===
        Set("__null__", "__empty__", "a'b", "cold", "warm", "o`d\\", "hot"))
    }
  }
}
