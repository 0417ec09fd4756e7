package graft

import java.nio.file.{Files, Path}
import graft.io.IceLite
import graft.rules.FileRules
import graft.synth.FilesTable
import graft.validate.{CheckpointedValidation, Verdicts, Violations}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

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
      // the partition list comes from the collected metrics, not a scan
      // of its own
      assert(j2 <= 6 && j8 <= 6, s"2 partitions: $j2 jobs, 8 partitions: $j8 jobs")
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      two.unpersist(); eight.unpersist()
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
}
