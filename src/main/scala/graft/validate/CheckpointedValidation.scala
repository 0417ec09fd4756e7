package graft.validate

import graft.io.IceLite
import graft.rules.RowRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable validation runs: the engine pass committed per logical
  * partition (the repo's org prefix — the natural partition key of an
  * Iceberg code table), each partition's verdicts / violations /
  * metrics landing through [[graft.io.TableIO.commitParts]] so a killed
  * run resumes by skipping every partition whose lineage record
  * committed.
  *
  * Every not-yet-committed partition is committed in ONE wave, and a
  * run reads its input twice, however many partitions it commits:
  *  - one `groupBy(part)` aggregate over every row, carrying the row
  *    count, [[Profile.columns]]' per-column aggregates and
  *    [[Verdicts.compute]]'s counter per rule, collected at one row per
  *    part. Those rows list the partitions and give each partition's
  *    input row count; the wave's `metrics` and `verdicts` tables are
  *    unpivoted from them on the driver, through the same code (and so
  *    the same schema) as the two public functions;
  *  - one scan of the wave's rows for the violations, written straight
  *    from the scan (no exchange).
  * The run persists nothing: a caller whose frame is costly or not
  * deterministic to recompute, or that wants one materialisation across
  * a crash and its resume, persists it itself (SparkEntry `v_resume`).
  * Crash and resume act on the wave: its staging writes are
  * all-or-nothing (a crash there leaves no partition committed), and
  * the per-partition landing after them is resumable (a crash there
  * leaves some partitions committed, which the next run skips). At
  * 100 TB each partition is an Iceberg partition and the violations
  * scan's wave filter becomes partition pruning.
  */
object CheckpointedValidation {

  final class SimulatedCrash extends RuntimeException("simulated crash")

  private val profiled = Seq("repo", "path", "commit", "lang", "content")

  /** Run (or resume) a validation snapshot. Returns the snapshot id.
    * `crashAfter` = commit only the first N pending partitions, then
    * throw (kill-between-partitions testing). */
  def run(spark: SparkSession, files: DataFrame, rules: Seq[RowRule],
      root: String, crashAfter: Option[Int] = None): Long =
    run(spark, files, rules, new IceLite(root), crashAfter)

  /** As above against any [[graft.io.TableIO]] implementation — the
    * engine's checkpoint loop is format-agnostic (SURVEY §7 seam). */
  def run(spark: SparkSession, files: DataFrame, rules: Seq[RowRule],
      ice: graft.io.TableIO, crashAfter: Option[Int]): Long = {
    val snap = ice.nextSnapshotId
    // state another operation (a crashed compaction) left under the
    // same in-progress id is NOT this run's completed work: skipping
    // its partitions would publish that operation's partial output
    // under names this run never validated (ADVICE r6). One O(1)
    // marker probe — not a per-partition record read, which would be
    // O(parts) driver file IO on every resume.
    ice.inProgressOp(snap).filter(_ != "ingest").foreach(op => sys.error(
      s"snapshot $snap holds in-progress state from operation '$op': " +
        "resume or discard that operation first (IceLite.discardInProgress)"))
    // metrics and verdicts are BOUNDED (one aggregate row per part), so
    // they come from one aggregate collected over every row. HLL++
    // registers and counters are per group, so a partition's row does
    // not depend on which other partitions the pass covered.
    val orgCol = Verdicts.org(col("repo"))
    val aggs = Profile.aggregates(profiled, exact = false) ++ Verdicts.counters(rules)
    val agg = files.groupBy(orgCol.as("part")).agg(aggs.head, aggs.tail: _*)
    val partRows = agg.collect()
    val parts = partRows.map(_.getString(0)).sorted.toSeq
    val todo = parts.filterNot(ice.completedParts(snap))
    val wave = crashAfter.fold(todo)(todo.take)
    if (wave.nonEmpty) {
      val inWave = wave.toSet
      val waveRows = partRows.filter(r => inWave(r.getString(0)))
      val row = spark.createDataFrame(java.util.Arrays.asList(waveRows: _*), agg.schema)
      // both bounded tables go through coalesce(1), one file per
      // partition. Violations scale with the data and are written
      // straight from the scan (no exchange).
      ice.commitParts(snap, "part", Map(
        "verdicts" -> Verdicts.unpivot(row, rules).coalesce(1),
        "violations" -> Violations.extract(files.filter(orgCol.isin(wave: _*)), rules)
          .withColumn("part", orgCol),
        "metrics" -> Profile.unpivot(row, Seq(col("part")), profiled).coalesce(1)),
        waveRows.map(r => r.getString(0) -> r.getAs[Long]("__n")).toMap)
    }
    if (wave.size < todo.size) throw new SimulatedCrash
    ice.commitSnapshot(snap, parts)
    snap
  }

  /** Convenience: committed verdicts of a snapshot (part restored from
    * the partition directory). */
  def verdicts(spark: SparkSession, root: String, snap: Long): DataFrame =
    new IceLite(root).readTable(spark, snap, "verdicts")
}
