package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the
  * knobs that matter at 100 TB, applied consistently everywhere
  * (tests, CLI, bench):
  *
  *  - AQE on, with skew-join splitting: the uniqueness/verdict
  *    aggregations see a 30%-hot org key; AQE splits oversized
  *    post-shuffle partitions at runtime (on top of the engine's
  *    SaltedAgg, which salts every count it runs by map task, with no
  *    probe).
  *  - shuffle partitions sized to the parallelism level, not the
  *    200 default (local mode) — on a real cluster AQE coalesces.
  *  - 128m file split target so a 100 TB table yields ~800k balanced
  *    input tasks rather than a few giant ones.
  *  - UTC session timezone (oracle/cross-engine parity).
  *  - zstd for Spark's internal block compression ([[contextConf]]):
  *    every shuffle block, broadcast block and spill. The rows the
  *    north-rule pass shuffles are keys that must cross for an exact
  *    answer, so their encoding is what is left to shrink: on the
  *    perfbench `validate_scan` workload (4-core VM) the pass shuffles
  *    1.614 MB with the default lz4 and 0.900 MB with zstd (−44%,
  *    medians of 10 pairs), the uniqueness shuffle 1.563 → 0.878 MB.
  *    zstd's buffer pool is off: with it on, `heap_mb` (old generation
  *    after GC) read 89.38 and 89.43 MB on `validate_scan` seeds 101
  *    and 102 against 85.48 and 85.18 MB with it off, and 72.09 against
  *    71.34 MB on `snapshot_commit` seed 201; the shuffle bytes were the
  *    same either way.
  *  - parquet file compression stays at Spark's snappy default: it
  *    decides the bytes of every table the engine writes and reads, not
  *    how tasks exchange rows, and inputs written through this session
  *    must read back the same.
  */
object GraftSession {

  /** SparkContext-level settings. They take effect only when a context
    * is created: `getOrCreate` on a running context ignores them (it
    * warns), so check them on `sparkContext.getConf`. The engine's
    * builder and the shared test session both apply this one map. */
  private[graft] val contextConf: Map[String, String] = Map(
    "spark.io.compression.codec" -> "zstd",
    "spark.io.compression.zstd.bufferPool.enabled" -> "false")

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .config(contextConf)
      .master(master)
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expr.GraftExtensions)

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
