package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Operator-level counters for playbook runs — the reference's
  * Close()-time log lines surfaced as a queryable metrics table:
  * lookup hit/miss (transform/lookup.go:118-120; the reference
  * increments them only on the copy path, lookup.go:199-208) and
  * objectValidate per-class error/object counts
  * (transform/object_validate.go:71-86).
  *
  * Mechanics: instrumented steps attach `df.observe` aggregates, which
  * ride the SAME job that materializes the output — zero extra passes
  * and no driver-side counting, unlike the reference's per-row mutable
  * counters (which a distributed engine cannot have). Values are read
  * back after the run and can be committed as an IceLite metrics
  * table ([[toDF]] → `commitPartition(..., Map("op_metrics" -> df))`, a
  * one-part staged landing).
  */
final class OpCounters {
  private val obs =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Observation)]()

  /** Attach named aggregates to `df` under the op label. Each call
    * creates a fresh Observation (a pipeline feeding k outputs
    * re-executes its step closures once per output, and an Observation
    * is single-use by Spark contract). */
  private[pipeline] def attach(df: DataFrame, op: String,
      metrics: Seq[Column]): DataFrame = {
    val o = Observation()
    obs.add(op -> o)
    df.observe(o, metrics.head, metrics.tail: _*)
  }

  /** op → metric → value. Re-executions of the same op observe
    * identical counts (same input, same plan), so the first completed
    * observation per op wins; ops whose plan no output consumed are
    * absent (their job never ran — there is nothing to count). Metrics
    * are delivered on Spark's ASYNC listener bus, so each pending
    * observation is awaited up to `timeout` (only never-run plans pay
    * it) rather than relying on getOrEmpty's 100 ms grace. */
  def snapshot(timeout: scala.concurrent.duration.Duration =
      scala.concurrent.duration.Duration(10, "s")): Map[String, Map[String, Long]] =
    obs.toArray(Array.empty[(String, Observation)])
      .foldLeft(Map.empty[String, Map[String, Long]]) { case (acc, (op, o)) =>
        val row: Map[String, Any] =
          if (acc.contains(op)) Map.empty
          // get() is safe here: the future is already complete (Await
          // succeeded), so it returns without further blocking
          else try { scala.concurrent.Await.ready(o.future, timeout); o.get }
          catch { case _: java.util.concurrent.TimeoutException => Map.empty }
        if (row.isEmpty || acc.contains(op)) acc
        else acc + (op -> row.map { case (k, v) =>
          k -> (v match {
            case null => 0L
            case n: Number => n.longValue
            case other => sys.error(s"non-numeric counter $op.$k: $other")
          })
        })
      }

  /** The counters as an (op, metric, value) frame — the metrics-table
    * shape the validation engine already commits through IceLite. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot().toSeq.sortBy(_._1)
      .flatMap { case (op, ms) => ms.toSeq.sortBy(_._1).map { case (m, v) =>
        (op, m, v)
      } }
      .toDF("op", "metric", "value")
  }
}
