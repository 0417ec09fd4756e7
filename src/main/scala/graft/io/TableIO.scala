package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The snapshot/checkpoint contract the validation engine depends on —
  * everything [[graft.validate.CheckpointedValidation]] needs from a
  * table format, and nothing else (SURVEY.md §7: "Keep it behind a
  * TableIO trait so a real Iceberg catalog is a drop-in later").
  *
  * The seam is one multi-partition commit: a run hands over all the
  * partitions it commits at once ([[commitParts]]), as tables carrying
  * a partition column, so committing costs a constant number of jobs
  * however many partitions there are. [[IceLite]] implements it over
  * bare parquet + JSON manifests; an Iceberg-catalog implementation
  * would map snapshots to Iceberg snapshots, `commitParts` to one
  * partitioned append, and `completedParts` to manifest inspection,
  * with no change to the engine's checkpoint/resume loop.
  */
trait TableIO {
  /** Id the NEXT run should use: one past the last committed snapshot,
    * which is also how a killed run resumes (its partial lineage lives
    * under the same still-uncommitted id). */
  def nextSnapshotId: Long

  /** Partitions whose lineage committed under `snap` (the resume set). */
  def completedParts(snap: Long): Set[String]

  /** The operation that owns an in-progress snapshot's partial state
    * ("compact", ...). A resuming ingest refuses another operation's
    * in-progress state instead of silently skipping its partitions as
    * completed work; the probe must be O(1), not per-partition. None
    * (the default for formats that don't track it) means plain ingest. */
  def inProgressOp(snap: Long): Option[String] = None

  /** Write the output tables of the partitions named by `rows`, each
    * table carrying the part name in column `partCol` (dropped from the
    * stored data, restored on read). Each partition is committed
    * all-or-nothing: it is either fully committed (lineage record
    * present) or absent. Every table is listed in every partition, with
    * zero rows where it has none; `rows(part)` is the partition's input
    * row count. Partitions already committed under `snap` are left
    * untouched. */
  def commitParts(snap: Long, partCol: String,
      tables: Map[String, DataFrame], rows: Map[String, Long]): Unit

  /** Finalize the snapshot: manifest then current-pointer swap. */
  def commitSnapshot(snap: Long, parts: Seq[String]): Unit

  /** Read a committed snapshot's table across all its partitions. */
  def readTable(spark: SparkSession, snap: Long, table: String): DataFrame
}
