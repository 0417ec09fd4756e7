package graft

import graft.synth.FilesTable
import graft.validate.Referential
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The north rule's "broadcast or sort-merge joins chosen by
  * cardinality stats" — asserted on the physical plan, not assumed. */
class JoinStrategySpec extends AnyFunSuite {
  import TestSpark._

  lazy val files = FilesTable.files(spark, sf)
  lazy val manifest = FilesTable.repoManifest(spark, sf)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("small dimension -> broadcast anti-join") {
    val plan = planOf(Referential.orphansKnownSize(
      files, manifest, "repo", "repo", broadcastDim = true))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(plan.contains("LeftAnti"))
  }

  test("large dimension -> shuffle join (no broadcast)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(Referential.orphansKnownSize(
        files, manifest, "repo", "repo", broadcastDim = false))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(500))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("orphans() probes cardinality and picks broadcast for this manifest") {
    // 92-repo manifest is far under BroadcastMaxRows -> policy says broadcast
    val plan = planOf(Referential.orphans(files, manifest, "repo", "repo"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("manifest cardinality stats pick the broadcast side, zero probe jobs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ice_join").toString
    val ice = new graft.io.IceLite(root)
    val snap = ice.nextSnapshotId
    ice.commitPartition(snap, "p0", 3L,
      Map("repos" -> Seq("r1", "r2", "r3").toDF("repo")))
    ice.commitSnapshot(snap, Seq("p0"))
    // the row count comes from the snapshot manifest (footer-derived),
    // not from a count() probe over the dimension
    assert(ice.tableRowCount(snap, "repos") === Some(3L))
    val plan = planOf(Referential.orphansFromManifest(
      spark, ice, snap, files, "repos", "repo", "repo"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("GraftSession applies the engine configuration") {
    // the shared test session isn't built by GraftSession; check the
    // builder's settings land on a session it does build
    val s = GraftSession.builder("local[2]", 2).getOrCreate()
    try {
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    } finally () // shared JVM: leave the session, which may be the shared one
    // (getOrCreate applies the builder's SQL confs to a running session but
    // ignores its context-level confs: those are fixed per SparkContext)
  }

  test("the shared test session compresses shuffles and broadcasts with zstd") {
    val conf = TestSpark.spark.sparkContext.getConf
    assert(conf.get("spark.io.compression.codec") === "zstd")
    assert(conf.get("spark.io.compression.zstd.bufferPool.enabled") === "false")
  }
}
