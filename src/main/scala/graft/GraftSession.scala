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
  */
object GraftSession {
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
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
