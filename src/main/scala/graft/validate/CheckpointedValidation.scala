package graft.validate

import graft.io.{DriverFanOut, IceLite}
import graft.rules.{FileRules, RowRule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable validation runs: the engine pass executed partition-by-
  * partition (logical partition = the repo's org prefix — the natural
  * partition key of an Iceberg code table), committing each partition's
  * verdicts / violations / metrics through [[IceLite]] so a killed run
  * resumes by skipping every partition whose lineage record committed.
  *
  * Scale note: each logical partition costs several Spark jobs — its
  * three table writes, the row count and the jobs AQE splits them into,
  * about 11 per partition on the benchmark's `snapshot_commit` workload
  * (44 for 4 partitions) — and each job re-filters the cached input.
  * The partition is the granularity the checkpoint needs. At 100 TB
  * each "partition" is an Iceberg partition (thousands of files) so
  * per-partition jobs are big enough to amortize scheduling, and the
  * single `files.cache()` below becomes Iceberg partition pruning (each
  * job scans only its partition's files — no rescan of the table).
  */
object CheckpointedValidation {

  final class SimulatedCrash extends RuntimeException("simulated crash")

  /** Run (or resume) a validation snapshot. Returns the snapshot id.
    * `crashAfter` = throw after N partitions (kill-between-partitions
    * testing). */
  def run(spark: SparkSession, files: DataFrame, rules: Seq[RowRule],
      root: String, crashAfter: Option[Int] = None): Long =
    run(spark, files, rules, new IceLite(root), crashAfter)

  /** As above against any [[graft.io.TableIO]] implementation — the
    * engine's checkpoint loop is format-agnostic (SURVEY §7 seam). */
  def run(spark: SparkSession, files: DataFrame, rules: Seq[RowRule],
      ice: graft.io.TableIO, crashAfter: Option[Int]): Long = {
    val snap = ice.nextSnapshotId
    val orgCol = Verdicts.org(col("repo"))
    // each partition's jobs re-filter the input; cache it once so the
    // per-org loop does not rescan the source (at real scale this is
    // Iceberg partition pruning instead). A caller that ALREADY
    // persisted the frame keeps ownership: crash-then-resume callers
    // cache once across both runs instead of re-deriving in between.
    val alreadyCached =
      files.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached = if (alreadyCached) files else files.cache()
    try {
      val parts = cached.select(orgCol.as("part")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      // state another operation (a crashed compaction) left under the
      // same in-progress id is NOT this run's completed work: skipping
      // its partitions would publish that operation's partial output
      // under names this run never validated (ADVICE r6). One O(1)
      // marker probe — not a per-partition record read, which would be
      // O(parts) driver file IO on every resume.
      ice.inProgressOp(snap).filter(_ != "ingest").foreach(op => sys.error(
        s"snapshot $snap holds in-progress state from operation '$op': " +
          "resume or discard that operation first (IceLite.discardInProgress)"))
      val done = ice.completedParts(snap)
      // "part" is the hive partition dir; drop it from the data files
      // and let readTable restore it (no duplicate column). The lazy
      // count runs concurrently with the three table writes. Verdicts
      // and metrics are BOUNDED tables (one row per rule / per
      // profiled column, regardless of data size) — coalesce(1) so a
      // commit writes one file each instead of shuffle-partition-many
      // near-empty ones; violations scale with the data and keep
      // their parallelism.
      def commitOne(part: String): Unit = {
        val sub = cached.filter(orgCol === part)
        val verdicts = Verdicts.compute(spark, sub, rules)
        val violations = Violations.extract(sub, rules)
        val metrics = Profile.columns(sub,
          Seq("repo", "path", "commit", "lang", "content"), exact = false)
        ice.commitPartitionLazy(snap, part, () => sub.count(),
          Map("verdicts" -> verdicts.drop("part").coalesce(1),
            "violations" -> violations,
            "metrics" -> metrics.coalesce(1)))
      }
      // partitions are independent until commitSnapshot — run 4 commits
      // at once (guide §2.6: the next partition's jobs back-fill
      // executors idling in the current one's tail; each commit is
      // itself several small jobs, so a bounded fan-out, not one thread
      // per partition). A crash mid-fan-out leaves a resumable set of
      // committed partitions, which completedParts handles. Crash
      // injection commits exactly the first N, then throws.
      val todo = parts.filterNot(done)
      val now = crashAfter.fold(todo)(todo.take)
      DriverFanOut(spark, 4, now)(commitOne)
      if (now.size < todo.size) throw new SimulatedCrash
      ice.commitSnapshot(snap, parts)
      snap
    } finally if (!alreadyCached) cached.unpersist(): Unit
  }

  /** Convenience: committed verdicts of a snapshot (part restored from
    * the partition directory). */
  def verdicts(spark: SparkSession, root: String, snap: Long): DataFrame =
    new IceLite(root).readTable(spark, snap, "verdicts")
}
