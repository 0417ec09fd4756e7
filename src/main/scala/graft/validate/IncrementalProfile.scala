package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Mergeable per-partition statistics — the incremental face of the
  * north-star "per-column statistics in a single aggregation pass per
  * partition". Each ingested partition computes ONE tiny stats row
  * ([[partitionProfile]]) / histogram ([[lengthHistogram]]) next to its
  * data (cost ∝ the append, one aggregation pass); any later
  * whole-table profile or drift check merges those rows
  * ([[mergeProfiles]], [[DriftCheck.psiFromHists]]) without touching a
  * single data file — metadata-sized at any table size.
  *
  * Mergeability per field: row/null counts merge by SUM, min/max by
  * MIN/MAX (all exact); distinct counts are NOT decomposable exactly,
  * so they merge as DataSketches HLL unions (`hll_sketch_agg` /
  * `hll_union_agg`: HLL_8 with the default 2^12 registers, ≈ 1.6% RSE;
  * the oracle-gated `v_profile_incr` certifies ≤ 5% vs exact). The
  * whole-table [[Profile]] uses exact COUNT(DISTINCT) or HLL++, and
  * [[ProfileSinglePass]] its own 2^11-register HLL; neither merges.
  *
  * The reference computes its schema checks per playbook run over the
  * full input (sifter's transform pipeline has no incremental stats
  * notion); this is the piece a 10¹²-file validated table needs
  * instead: stats that append in O(append) and answer in O(partitions).
  */
object IncrementalProfile {

  /** One mergeable stats row for a partition: `n_rows`, per-column
    * `null_<c>` counts, `min_<c>`/`max_<c>` for numeric columns, and
    * an HLL sketch `hll_<c>` for each of `distinctCols`. Column set
    * and order are deterministic (input order, nulls before ranges
    * before sketches). `groupBy` names a partition column: every
    * partition's row in ONE Spark job (one `groupBy` pass, where a
    * per-partition loop costs O(partitions) driver-sequential jobs),
    * the partition column first, so a `partitionBy` write drops it and
    * each partition's file carries exactly the ungrouped schema. */
  def partitionProfile(part: DataFrame, nullCols: Seq[String],
      rangeCols: Seq[String], distinctCols: Seq[String],
      groupBy: Option[String] = None): DataFrame = {
    rangeCols.foreach { c =>
      require(part.schema(c).dataType.isInstanceOf[NumericType],
        s"range column '$c' is not numeric (min/max of strings does not " +
          "merge through parquet footers consistently)")
    }
    val aggs = nullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")) ++
      rangeCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      distinctCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c"))
    part.groupBy(groupBy.toSeq.map(col): _*).agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Merge per-partition profile rows back into one whole-table row:
    * counts SUM, ranges MIN/MAX, sketches `hll_union_agg` →
    * `hll_sketch_estimate` as `distinct_<c>` (approximate — see class
    * doc). The input is the union of [[partitionProfile]] rows read
    * from the stats table; schema drives the merge, so the call sites
    * stay in sync with what was committed. */
  def mergeProfiles(profiles: DataFrame): DataFrame = {
    val cols = profiles.columns.toSeq
    val aggs: Seq[Column] = cols.collect {
      case c if c.startsWith("null_") => sum(col(c)).cast("long").as(c)
      case c if c.startsWith("min_") => min(col(c)).as(c)
      case c if c.startsWith("max_") => max(col(c)).as(c)
      case c if c.startsWith("hll_") =>
        hll_sketch_estimate(hll_union_agg(col(c)))
          .as(s"distinct_${c.stripPrefix("hll_")}")
    }
    profiles.agg(sum(col("n_rows")).cast("long").as("n_rows"), aggs: _*)
  }

  /** The bucketed value histogram a drift check merges
    * ([[DriftCheck.psiFromHists]]): `(bucket, n)` rows for
    * `floor(value / bucketWidth)`, nulls excluded (the same null rule
    * as [[DriftCheck.ks]] — null-rate difference is [[partitionProfile]]'s
    * job, not the distribution's). `groupBy` names a partition column:
    * every partition's histogram in one pass, `(part, bucket, n)`,
    * for the same `partitionBy` reason as [[partitionProfile]]. */
  def lengthHistogram(part: DataFrame, value: Column, bucketWidth: Int,
      groupBy: Option[String] = None): DataFrame =
    Histogram(part, groupBy.toSeq, value, bucketWidth, count(lit(1)).as("n"))

  /** Sum per-partition histogram rows into one distribution. */
  def mergeHistograms(hists: DataFrame): DataFrame =
    hists.groupBy("bucket").agg(sum(col("n")).as("n"))
}
