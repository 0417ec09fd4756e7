package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.io.IceLite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The IceLite read path: every read declares the schema its lineage
  * records hold, and every commit records the schema its files have. */
class IceLiteReadSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("icelite-read").toString

  private def partsOf(df: DataFrame): Set[String] =
    df.select("part").distinct().collect().map(_.getString(0)).toSet

  /** Every partition of `table` in `snap` records the schema its files
    * have, and readTable declares exactly what footer inference of those
    * files gives: the leaf dir's footer schema plus `part: string`. */
  private def assertLedgerIsFooter(ice: IceLite, snap: Long, table: String): Unit = {
    val read = ice.readTable(spark, snap, table)
    val dirOf = read.inputFiles.map(f => new java.net.URI(f).getPath)
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      .map(d => d.substring(d.lastIndexOf("/part=") + "/part=".length) -> d).toMap
    ice.snapshotParts(snap).foreach { part =>
      val footer = spark.read.parquet(dirOf(part.replace("=", "%3D"))).schema
      assert(read.schema === footer.add("part", StringType), s"$table/$part")
      val ledger = DataType.fromJson(ice.partSchemaJson(snap, part, table).get)
        .asInstanceOf[StructType]
      assert(ledger.simpleString === footer.simpleString, s"$table/$part")
    }
  }

  test("ledger schema = footer schema for every commit and rewrite entry point") {
    // non-null longs, nested types and NULLs: what a toDF plan records
    // differs from what a read-back plan does only in nullability
    val df = (1 to 8).map(i => (i.toLong, if (i % 2 == 0) null else s"s$i",
      Seq.fill(i % 3)(i), (i, if (i % 3 == 0) null else "q"))).toDF("n", "s", "arr", "st")
    val ice = new IceLite(freshRoot())
    // several files per part, so compaction rewrites both
    ice.commitPartition(1L, "a", 8L, Map("t" -> df.repartition(3)))
    ice.commitPartitionFromFooters(1L, "b", Map("t" -> df.repartition(3)))
    ice.commitSnapshot(1L, Seq("a", "b"))
    assertLedgerIsFooter(ice, 1L, "t")
    val c = ice.compactSnapshot(spark)
    assert(ice.readTable(spark, c, "t").inputFiles.forall(_.contains(s"snap=$c/")))
    assertLedgerIsFooter(ice, c, "t")
    val d = ice.deleteWhere(spark, "t", col("n") === 1L)
    assertLedgerIsFooter(ice, d, "t")

    // commitParts: `z` has rows in one part only, so the other lands
    // as a driver-written zero-row file
    val waves = new IceLite(freshRoot())
    waves.commitParts(1L, "g", Map(
      "t" -> df.withColumn("g", when(col("n") === 1L, "a").otherwise("b")),
      "z" -> Seq(("a", 1.5)).toDF("g", "v")), Map("a" -> 1L, "b" -> 7L))
    waves.commitSnapshot(1L, Seq("a", "b"))
    assertLedgerIsFooter(waves, 1L, "t")
    assertLedgerIsFooter(waves, 1L, "z")
    val byValue = new IceLite(freshRoot())
    byValue.commitSnapshot(1L, byValue.ingestPartitionedTables(spark, 1L, "g",
      Map("t" -> df.withColumn("g", coalesce(col("s"), lit("none"))))))
    assertLedgerIsFooter(byValue, 1L, "t")

    // mergeRows: updates name the columns in another order and narrow
    // one type; the union lands the table's order and the wider type
    val bucketed = new IceLite(freshRoot())
    bucketed.setBucketSpec("t", "k", 4)
    val base = (0 until 64).map(i => (s"k$i", i.toLong, s"v$i")).toDF("k", "n", "s")
    bucketed.commitSnapshot(1L, bucketed.ingestBucketed(spark, 1L, "t", base))
    assertLedgerIsFooter(bucketed, 1L, "t")
    val m = bucketed.mergeRows(spark, "t", Seq(("w", 7, "k3")).toDF("s", "n", "k"))
    assert(bucketed.completedParts(m).size === 1)
    assertLedgerIsFooter(bucketed, m, "t")
    assert(bucketed.readTable(spark, m, "t").filter(col("k") === "k3")
      .select("n", "s").as[(Long, String)].collect().toSeq === Seq((7L, "w")))
  }

  test("readTable starts no Spark job before its action") {
    val ice = new IceLite(freshRoot())
    ice.commitPartition(1L, "a", 2L, Map("t" -> Seq((1L, "x"), (2L, "y")).toDF("n", "s")))
    ice.commitSnapshot(1L, Seq("a"))
    ice.commitPartition(2L, "b", 1L, Map("t" -> Seq((3L, "z", "mit")).toDF("n", "s", "lic")))
    ice.carryForwardPartition(2L, "a", 1L)
    ice.commitSnapshot(2L, Seq("a", "b"))
    val recorder = new GroupJobs
    spark.sparkContext.addSparkListener(recorder)
    try {
      var one, two: DataFrame = null
      assert(recorder.jobsOf("read-one-era") { one = ice.readTable(spark, 1L, "t") } === 0)
      assert(recorder.jobsOf("read-two-eras") { two = ice.readTable(spark, 2L, "t") } === 0)
      assert(one.count() === 2)
      assert(two.columns.toSeq === Seq("n", "s", "lic", "part"))
      assert(two.count() === 3)
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("concurrent reads leave the session's partition type inference untouched") {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val ice = new IceLite(freshRoot())
    Seq("0100", "7").foreach(part =>
      ice.commitPartition(1L, part, 1L, Map("t" -> Seq((1L, "x")).toDF("n", "s"))))
    ice.commitSnapshot(1L, Seq("0100", "7"))
    val initial = spark.conf.getOption(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) { seen.add(spark.conf.getOption(key)); Thread.sleep(1) })
    poller.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val reads = try {
      (1 to 3).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
        def call(): DataFrame = (1 to 10).map(_ => ice.readTable(spark, 1L, "t")).last
      })).map(_.get)
    } finally { pool.shutdown(); running = false; poller.join() }
    assert(seen.asScala.toSet === Set(initial))
    reads.foreach(df => assert(partsOf(df) === Set("0100", "7")))
  }

  test("an all-numeric part name reads back as its string through readTable, " +
    "a two-era read and compaction") {
    assert(spark.sessionState.conf.partitionColumnTypeInferenceEnabled,
      "the session must infer partition types for this test to witness anything")
    val ice = new IceLite(freshRoot())
    // several files per part, so compaction's grouped rewrite reads them
    ice.commitPartition(1L, "0100", 20L, Map("t" ->
      (1L to 20L).map(i => (i, "a")).toDF("id", "s").repartition(4)))
    ice.commitSnapshot(1L, Seq("0100"))
    val one = ice.readTable(spark, 1L, "t")
    assert(one.schema("part").dataType === StringType)
    assert(partsOf(one) === Set("0100"))
    ice.commitPartition(2L, "0200", 20L, Map("t" ->
      (21L to 40L).map(i => (i, "b", "x")).toDF("id", "s", "extra").repartition(4)))
    ice.carryForwardPartition(2L, "0100", 1L)
    ice.commitSnapshot(2L, Seq("0100", "0200"))
    val two = ice.readTable(spark, 2L, "t")
    assert(two.schema("part").dataType === StringType)
    assert(partsOf(two) === Set("0100", "0200"))
    val c = ice.compactSnapshot(spark)
    val packed = ice.readTable(spark, c, "t")
    assert(packed.inputFiles.forall(_.contains(s"snap=$c/")), "compaction rewrote nothing")
    assert(packed.select("part", "id").as[(String, Long)].collect().toSet ===
      (1L to 20L).map(("0100", _)).toSet ++ (21L to 40L).map(("0200", _)))
  }

  test("a part with no schema record reads next to recorded ones") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ice = new IceLite(freshRoot())
    ice.commitPartition(1L, "a", 2L,
      Map("t" -> Seq((1L, "x"), (2L, "y")).toDF("id", "s")))
    ice.commitPartition(1L, "b", 1L,
      Map("t" -> Seq((3L, "z", "mit")).toDF("id", "s", "lic")))
    // `a` as written before schema capture: its record carries no ledger
    val f = ice.lineageDir(1L).resolve("a.json")
    Files.writeString(f, JsonMethods.compact(JsonMethods.render(
      JsonMethods.parse(Files.readString(f)) match {
        case JObject(fs) => JObject(fs.filterNot(_._1 == "schemas"))
        case other => other
      })))
    ice.commitSnapshot(1L, Seq("a", "b"))
    assert(ice.partSchemaJson(1L, "a", "t").isEmpty)
    val back = ice.readTable(spark, 1L, "t")
    assert(back.columns.toSeq === Seq("id", "s", "lic", "part"))
    assert(back.select("part", "id", "lic").as[(String, Long, Option[String])]
      .collect().toSet === Set(("a", 1L, None), ("a", 2L, None), ("b", 3L, Some("mit"))))
  }

  test("a table with its own part column is refused at every commit entry " +
    "point unless it is the partition column") {
    val root = freshRoot()
    val ice = new IceLite(root)
    val own = Seq(("x", 1)).toDF("part", "n")
    ice.setBucketSpec("b", "n", 2)
    val refusals = Seq[() => Any](
      () => ice.commitPartition(1L, "p", 1L, Map("t" -> own)),
      () => ice.commitPartition(1L, "p", 1L, Map("t" -> own.toDF("PART", "n"))),
      () => ice.commitPartitionFromFooters(1L, "p", Map("t" -> own)),
      () => ice.commitParts(1L, "g", Map("t" -> own.withColumn("g", lit("p"))), Map("p" -> 1L)),
      () => ice.ingestPartitionedTables(spark, 1L, "g", Map("t" -> own.withColumn("g", lit("p")))),
      () => ice.ingestBucketed(spark, 1L, "b", own))
    refusals.foreach(commit => intercept[IllegalArgumentException](commit()))
    assert(ice.completedParts(1L).isEmpty)
    Seq("data", "tmp").foreach(d => assert(!Files.exists(Paths.get(root, d)), d))
    // partitioning BY `part` keeps its values in the directory names
    ice.commitParts(1L, "part", Map("t" -> own), Map("x" -> 1L))
    ice.commitSnapshot(1L, Seq("x"))
    assert(ice.readTable(spark, 1L, "t").as[(Int, String)].collect().toSeq === Seq((1, "x")))
    // a merge refuses such updates before it marks a snapshot in progress
    val bucketed = new IceLite(freshRoot())
    bucketed.setBucketSpec("b", "n", 2)
    bucketed.commitSnapshot(1L, bucketed.ingestBucketed(spark, 1L, "b", Seq(1, 2).toDF("n")))
    intercept[IllegalArgumentException](
      bucketed.mergeRows(spark, "b", Seq(("y", 1)).toDF("part", "n")))
    assert(!Files.exists(bucketed.lineageDir(2L)))
  }
}
