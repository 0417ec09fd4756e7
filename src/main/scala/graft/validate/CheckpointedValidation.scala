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
  * Every not-yet-committed partition is committed in ONE wave: each
  * table is built once, grouped by partition (the verdicts as one
  * per-part aggregate with a counter per rule, [[Verdicts.compute]]),
  * so a run costs a constant number of Spark jobs and a constant number
  * of scans of the cached input, however many partitions it commits.
  * The partition list comes from the per-part metrics aggregate, which
  * runs over every cached row; verdicts and violations read only the
  * wave's rows. Crash and resume act on the wave: its staging
  * writes are all-or-nothing (a crash there leaves no partition
  * committed), and the per-partition landing after them is resumable
  * (a crash there leaves some partitions committed, which the next run
  * skips). At 100 TB each partition is an Iceberg partition and the
  * single `files.cache()` below becomes partition pruning.
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
    val orgCol = Verdicts.org(col("repo"))
    // the wave scans the input once per table; cache it once (at real
    // scale this is Iceberg partition pruning instead). A caller that
    // ALREADY persisted the frame keeps ownership: crash-then-resume
    // callers cache once across both runs instead of re-deriving in
    // between.
    val alreadyCached =
      files.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached = if (alreadyCached) files else files.cache()
    try {
      // state another operation (a crashed compaction) left under the
      // same in-progress id is NOT this run's completed work: skipping
      // its partitions would publish that operation's partial output
      // under names this run never validated (ADVICE r6). One O(1)
      // marker probe — not a per-partition record read, which would be
      // O(parts) driver file IO on every resume.
      ice.inProgressOp(snap).filter(_ != "ingest").foreach(op => sys.error(
        s"snapshot $snap holds in-progress state from operation '$op': " +
          "resume or discard that operation first (IceLite.discardInProgress)"))
      // metrics are BOUNDED (one row per part and profiled column), so
      // they are collected once over every cached row: their rows list
      // the partitions without a scan of their own, give each
      // partition's input row count (`n_rows`), and are written from the
      // driver. HLL++ registers are per group, so a partition's row
      // does not depend on which other partitions the pass covered.
      val metrics = Profile.columns(cached.withColumn("part", orgCol), profiled,
        exact = false, groupBy = Some("part"))
      val metricRows = metrics.collect()
      val parts = metricRows.map(_.getString(0)).distinct.sorted.toSeq
      val todo = parts.filterNot(ice.completedParts(snap))
      val wave = crashAfter.fold(todo)(todo.take)
      if (wave.nonEmpty) {
        val inWave = wave.toSet
        val waveMetrics = metricRows.filter(r => inWave(r.getString(0)))
        val rows = cached.filter(orgCol.isin(wave: _*)).withColumn("part", orgCol)
        // verdicts are bounded too, one grouped pass over the wave rows;
        // both go through coalesce(1), one file per partition.
        // Violations scale with the data and are written straight from
        // the scan (no exchange).
        ice.commitParts(snap, "part", Map(
          "verdicts" -> Verdicts.compute(spark, rows, rules).coalesce(1),
          "violations" -> Violations.extract(rows, rules)
            .withColumn("part", orgCol),
          "metrics" -> spark.createDataFrame(
            java.util.Arrays.asList(waveMetrics: _*), metrics.schema).coalesce(1)),
          waveMetrics.map(r => r.getString(0) -> r.getLong(2)).toMap)
      }
      if (wave.size < todo.size) throw new SimulatedCrash
      ice.commitSnapshot(snap, parts)
      snap
    } finally if (!alreadyCached) cached.unpersist(): Unit
  }

  /** Convenience: committed verdicts of a snapshot (part restored from
    * the partition directory). */
  def verdicts(spark: SparkSession, root: String, snap: Long): DataFrame =
    new IceLite(root).readTable(spark, snap, "verdicts")
}
