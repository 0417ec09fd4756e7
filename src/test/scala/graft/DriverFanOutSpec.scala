package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.io.IceLite
import graft.rules.FileRules
import graft.synth.FilesTable
import graft.validate.CheckpointedValidation
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver fan-out contract of IceLite's multi-job operations: every
  * task settles before a failure surfaces, and every job carries the
  * caller's job group. */
class DriverFanOutSpec extends AnyFunSuite {
  import TestSpark._

  private def freshRoot(): String =
    Files.createTempDirectory("fanout").toString

  private val boom = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException("boom")
    x
  }
  private val slow = udf { (x: Long) => Thread.sleep(2000); x }

  /** One row whose write fails at once, and one whose write takes ~2 s. */
  private def badAndSlow: (DataFrame, DataFrame) =
    (spark.range(1).select(boom(col("id")).as("x"), lit("a").as("g")),
      spark.range(1).select(slow(col("id")).as("x"), lit("a").as("g")))

  private def successMarkers(root: String, table: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(f =>
      f.getFileName.toString == "_SUCCESS" && f.toString.contains(table)).toSeq
    finally s.close()
  }

  test("commitPartition settles every table write before rethrowing a failure") {
    val root = freshRoot()
    val ice = new IceLite(root)
    val (bad, slowDf) = badAndSlow
    intercept[Exception] {
      ice.commitPartition(1L, "p", 1L, Map("bad" -> bad, "slow" -> slowDf))
    }
    assert(Files.exists(Paths.get(ice.partDataDir(1L, "slow", "p"), "_SUCCESS")),
      "the call returned while the slow table was still writing")
    assert(!ice.isPartCompleted(1L, "p"))
  }

  test("ingestPartitionedTables settles every table write before rethrowing " +
    "a failure") {
    val root = freshRoot()
    val ice = new IceLite(root)
    val (bad, slowDf) = badAndSlow
    intercept[Exception] {
      ice.ingestPartitionedTables(spark, 1L, "g", Map("bad" -> bad, "slow" -> slowDf))
    }
    assert(successMarkers(root, "slow").nonEmpty,
      "the call returned while the slow table was still writing")
    assert(ice.completedParts(1L).isEmpty)
  }

  /** Job group of every job started, in submission order (listener
    * events arrive in order on one queue). */
  private final class JobGroups extends SparkListener {
    private val groups = scala.collection.mutable.Buffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groups += Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      notifyAll()
    }
    def await(group: String): Seq[String] = synchronized {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(group) && System.nanoTime() < deadline) wait(100)
      assert(groups.contains(group), "listener events did not drain in 60 s")
      groups.toSeq
    }
  }

  private val markers = new AtomicInteger

  /** Job groups of the jobs `body` starts while the caller holds the
    * group "caller": a marker job before and after delimits them. */
  private def groupsOf(recorder: JobGroups)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    val n = markers.incrementAndGet()
    marker(s"begin-$n")
    sc.setJobGroup("caller", "fan-out attribution")
    try body finally sc.clearJobGroup()
    marker(s"end-$n")
    val seen = recorder.await(s"end-$n")
    seen.slice(seen.indexOf(s"begin-$n") + 1, seen.indexOf(s"end-$n"))
  }

  test("every job of the fanned-out operations carries the caller's job group") {
    import spark.implicits._
    val recorder = new JobGroups
    spark.sparkContext.addSparkListener(recorder)
    def check(op: String)(body: => Unit): Unit = {
      val groups = groupsOf(recorder)(body)
      assert(groups.nonEmpty, s"$op started no job")
      assert(groups.forall(_ == "caller"), s"$op ran jobs outside the caller's " +
        s"group: ${groups.filterNot(_ == "caller")}")
    }
    try {
      val files = FilesTable.files(spark, sf).cache()
      try check("CheckpointedValidation.run") {
        CheckpointedValidation.run(spark, files, FileRules.rowRules, freshRoot())
      } finally files.unpersist()

      val root = freshRoot()
      val ice = new IceLite(root)
      val rows = (0 until 800).map(i => (i.toLong, s"p${i % 2}")).toDF("v", "g")
      check("ingestPartitionedTables") {
        ice.commitSnapshot(1L, ice.ingestPartitionedTables(spark, 1L, "g",
          Map("t" -> rows, "u" -> rows.filter(col("v") < 10))))
      }
      // eight files per partition, packed into three: one rewrite job
      // per partition, fanned out
      val snap = ice.nextSnapshotId
      Seq("a", "b").foreach(part =>
        ice.commitPartition(snap, part, 800L, Map("t" -> rows.repartition(8))))
      ice.commitSnapshot(snap, Seq("a", "b"))
      val bytes = new java.io.File(ice.partDataDir(snap, "t", "a")).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      check("compactSnapshot") {
        val c = ice.compactSnapshot(spark, targetFileBytes = bytes / 3 + 1)
        assert(ice.completedParts(c) === Set("a", "b"))
      }
      check("deleteWhere") { ice.deleteWhere(spark, "t", col("v") < 10) }

      val mroot = new IceLite(freshRoot())
      mroot.setBucketSpec("m", "k", 4)
      val base = (0 until 64).map(i => (s"k$i", i.toLong)).toDF("k", "n")
      mroot.commitSnapshot(1L, mroot.ingestBucketed(spark, 1L, "m", base))
      check("mergeRows") {
        mroot.mergeRows(spark, "m", Seq(("k3", 3003L), ("new", 1L)).toDF("k", "n"))
      }
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("spread() accepts a size-suffixed spark.sql.files.maxPartitionBytes") {
    val key = "spark.sql.files.maxPartitionBytes"
    val q = SparkEntry.queries("q_field_type")
    def rows = q(spark, sf).collect().map(_.toString).sorted.toSeq
    val expected = rows
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "128m")
    try assert(rows === expected)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
