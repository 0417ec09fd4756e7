package graft.validate

import graft.rules._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, LongType, MapType,
  StringType, StructType}

/** The validation core: re-expresses sifter's `objectValidate` per-row
  * check (transform/object_validate.go:31-87) and `graphcheck`'s
  * referential check (graphcheck/graphCheck.go:15-72) as declarative
  * DataFrame plans that Catalyst can optimize end-to-end.
  *
  * Scale notes (the 100 TB design, tested at sf0.x):
  *  - [[Violations.extract]] is a single narrow projection + explode —
  *    one scan, zero shuffles, stays inside whole-stage codegen; N rules
  *    do NOT cost N passes (the reference re-validates per row in one Go
  *    worker; we keep that single-pass shape but columnar).
  *  - [[Uniqueness]] shuffles once on the full composite key (high
  *    cardinality ⇒ well distributed). [[Verdicts]] is one per-org
  *    aggregate whose map-side partial counts bound a 30%-hot org;
  *    [[SaltedAgg]] counts per key through two-phase salting on every
  *    call, so a hot key costs no probe scan to detect: the skew is
  *    spread inside the job that runs. The salt is the map task's, so
  *    phase 1 shuffles one partial row per key per task, no more than
  *    a plain group-by does.
  *  - [[Referential.orphans]] picks broadcast vs shuffle join from the
  *    dimension's size, mirroring the north rule's "broadcast or
  *    sort-merge chosen by cardinality stats".
  */
object Violations {

  /** All row-rule violations in ONE pass: per row, build an array of
    * structs for the rules that fail, drop nulls, explode. Rows that pass
    * every rule contribute nothing (explode of empty array).
    */
  def extract(files: DataFrame, rules: Seq[RowRule],
      keyCols: Seq[String] = graft.model.FileRow.key): DataFrame = {
    val checks =
      // an empty `array()` has no struct fields to select: no rules, no rows
      if (rules.isEmpty) array().cast("array<struct<rule_id:string,col_name:string,observed:string>>")
      else array(rules.map { r =>
        when(!r.pass, struct(
          lit(r.id).as("rule_id"),
          lit(r.column).as("col_name"),
          r.observed.as("observed")))
      }: _*)
    files
      .select(keyCols.map(col) :+
        explode(filter(checks, c => c.isNotNull)).as("v"): _*)
      .select(Seq(col("v.rule_id").as("rule_id"), col("v.col_name").as("col_name")) ++
        keyCols.map(col) :+ col("v.observed").as("observed"): _*)
  }

  /** Canonical serialization order for golden dumps: (rule_id, key...) —
    * the frozen violation-fixture format (SURVEY §7: goldens must be
    * deterministic across partitionings; comparisons are set-based, but
    * files people diff need one order). */
  def canonical(violations: DataFrame,
      keyCols: Seq[String] = graft.model.FileRow.key): DataFrame =
    violations.orderBy((("rule_id" +: keyCols) :+ "col_name").map(col): _*)
}

/** Two-phase salted count per key, the explicit skew handling for hot
  * repos: phase 1 pre-aggregates on (key, salt), spreading a hot key's
  * partial counts from different map tasks over up to 32 reducers;
  * phase 2 merges per key. The salt is the map task's partition id mod
  * 32, so every row of a task shares it and the map-side partial
  * aggregate emits one row per key per task — the rows a plain
  * group-by shuffles — where a per-row salt would emit up to 32. The
  * salted plan always runs, with no decision first: a probe that picks
  * the plan is a sampled scan of its own, 3–4 Spark jobs ahead of the
  * count's 3. Rebalancing inside the job that runs, not probing before
  * it, is DS2's argument (ICDE 2021, PAPERS.md). [[isSkewed]] stays as
  * a diagnostic.
  */
object SaltedAgg {
  private val Salts = 32

  def countByKeyAuto(df: DataFrame, keys: Seq[String]): DataFrame =
    // a salt from the task, not from the row's content, so a key hot
    // because one byte-identical row repeats still spreads over the
    // tasks that hold it, and a retried task keeps its salt. Counts do
    // not depend on WHICH salt a row lands on: each row counts once.
    df.withColumn("_salt", pmod(spark_partition_id(), lit(Salts)))
      .groupBy((keys.map(col) :+ col("_salt")): _*).agg(count(lit(1)).as("_partial"))
      .groupBy(keys.map(col): _*).agg(sum(col("_partial")).cast(LongType).as("n_rows"))

  /** Cheap skew sketch: does one key group hold ≥ `hotShare` of a
    * seeded ~1/`frac` Bernoulli row sample? `df.sample` (seeded) rather
    * than a content hash: a FULL-ROW hash keeps byte-identical
    * duplicate rows all-or-none, so a key that is hot precisely because
    * one row repeats 10^8 times would land entirely in one hash residue
    * and be missed with probability (frac-1)/frac — and a KEY hash
    * would keep all-or-none of every key and see no skew at all. The
    * Bernoulli sample is per-row regardless of content, and its
    * predicate references no columns, so the probe scan prunes down to
    * the key columns only. A diagnostic: [[countByKeyAuto]] does not
    * call it. */
  def isSkewed(df: DataFrame, keys: Seq[String], hotShare: Double = 0.2,
      frac: Int = 100): Boolean = {
    val sampled =
      if (frac <= 1) df.select(keys.map(col): _*)
      else df.select(keys.map(col): _*)
        .sample(withReplacement = false, 1.0 / frac, seed = 42)
    val r = sampled
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("__mx"), sum(col("__n")).as("__tot"))
      .collect()(0)
    !r.isNullAt(0) && r.getLong(1) > 0 &&
      r.getLong(0).toDouble / r.getLong(1) >= hotShare
  }
}

/** Uniqueness on a composite key: groups with >1 row are violations.
  * Single shuffle on the composite key (map-side partial count first).
  * The reference's analog is first-wins `distinct` over a badger KV
  * (transform/distinct.go:24-62); we report the duplicates instead of
  * silently keeping one.
  *
  * NULL key components follow `GROUP BY`: NULL equals NULL, so rows
  * that agree on every key component, NULLs included, form one group
  * and count as duplicates. That is the DuckDB oracle's `vUniqueDups`.
  * It is neither SQL `UNIQUE` (NULL never equals NULL) nor a certain
  * key (a NULL component is refused).
  */
object Uniqueness {
  def duplicates(files: DataFrame, keys: Seq[String]): DataFrame =
    files.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** [[duplicates]] with ZERO shuffle at check time: the input persists
    * once as a Spark BUCKETED table on the uniqueness key (`bucketBy` —
    * hash clustering recorded in catalog metadata, Spark's native
    * bucket layout), so the duplicate aggregation reads pre-clustered
    * buckets and plans WITHOUT an Exchange. This is the layout a
    * STANDING validated table keeps for a recurring uniqueness
    * invariant at 100 TB: the shuffle is paid once at ingest, every
    * later check (and any equi-join on the same key) is exchange-free.
    * `path` makes the table external at a caller-owned location; the
    * catalog entry is per-session (in-memory catalog). Callers certify
    * the plan — see SparkEntry `v_unique_bucketed`. */
  def duplicatesBucketed(spark: SparkSession, files: DataFrame,
      keys: Seq[String], buckets: Int, tableName: String,
      path: String): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    files.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(tableName)
    duplicates(spark.table(tableName), keys)
  }
}

/** Referential integrity: every `column` value must exist in the
  * reference table (graphcheck's edge-endpoint→vertex check as an
  * anti-join). Join strategy chosen by dimension cardinality, not left
  * to the broadcast threshold alone.
  */
object Referential {
  val BroadcastMaxRows = 50L * 1000 * 1000 / 64 // ~50MB of short strings

  def orphans(files: DataFrame, manifest: DataFrame,
      column: String, refKey: String): DataFrame = {
    val dim = manifest.select(col(refKey).as("__ref_key")).distinct()
    val dimRows = dim.count() // one tiny job over the dimension only
    orphansJoin(files, dim, column, broadcastDim = dimRows <= BroadcastMaxRows)
  }

  /** As [[orphans]] but with the broadcast decision supplied by the
    * caller (e.g. from table-level stats) — skips the probe count job.
    * A broadcast dimension keeps its duplicates: they cannot change an
    * anti join's result, and deduplicating them costs a job. */
  def orphansKnownSize(files: DataFrame, manifest: DataFrame,
      column: String, refKey: String, broadcastDim: Boolean): DataFrame = {
    val dim = manifest.select(col(refKey).as("__ref_key"))
    orphansJoin(files, if (broadcastDim) dim else dim.distinct(), column, broadcastDim)
  }

  /** The north rule's "broadcast or sort-merge chosen by cardinality
    * stats", end-to-end: the dimension is an IceLite-committed table
    * and the broadcast decision comes from the snapshot manifest's
    * footer-derived row counts — ONE driver file read, zero probe jobs,
    * no reliance on AQE observing the shuffle first. Falls back to the
    * probe count only for pre-tableRows snapshots. */
  def orphansFromManifest(spark: org.apache.spark.sql.SparkSession,
      ice: graft.io.IceLite, snap: Long, files: DataFrame,
      dimTable: String, column: String, refKey: String): DataFrame = {
    val dim = ice.readTable(spark, snap, dimTable)
    ice.tableRowCount(snap, dimTable) match {
      case Some(rows) =>
        orphansKnownSize(files, dim, column, refKey,
          broadcastDim = rows <= BroadcastMaxRows)
      case None => orphans(files, dim, column, refKey)
    }
  }

  private def orphansJoin(files: DataFrame, dim: DataFrame,
      column: String, broadcastDim: Boolean): DataFrame = {
    val right = if (broadcastDim) broadcast(dim) else dim
    // NULL foreign keys are MISSING values (the Required rule's
    // finding), not dangling references — without this filter every
    // null-FK row lands in the anti-join output (null never equals the
    // key) and gets double-reported; also matches the SQL-oracle
    // semantics, where `NOT IN` is never true for NULL. A NULL in the
    // dimension matches no key either, so every orphan is still
    // reported; the oracle's `NOT IN (SELECT ...)` would instead return
    // no rows at all once the subquery holds a NULL
    files.filter(col(column).isNotNull)
      .join(right, files(column) === col("__ref_key"), "left_anti")
      .groupBy(col(column))
      .agg(count(lit(1)).cast(LongType).as("n_rows"))
  }
}

/** Per-column profile: row and null counts, a distinct count and length
  * min/max, as ONE Aggregate node over one scan, unpivoted with `stack`
  * to one row per column. The distinct count is
  *  - `exact = true`: COUNT(DISTINCT), the oracle-comparable form (its
  *    plan carries an Expand);
  *  - `exact = false`: HLL++ (`approx_count_distinct`, rsd 0.05), no
  *    Expand — the checkpointed runs' grouped metrics.
  * `groupBy` names a column to profile by: one row per (group, column),
  * the group column first. HLL++ registers merge by max, so a group's
  * `n_distinct` equals that of the group's rows profiled alone.
  * [[CheckpointedValidation]] runs the same aggregates next to
  * [[Verdicts]]' counters in one grouped pass, and unpivots the
  * collected rows through the same code, so the two share one schema.
  */
object Profile {
  /** Backtick-quote an identifier / single-quote a string literal for
    * interpolation into an `expr(...)` string. */
  private[validate] def bq(name: String): String =
    "`" + name.replace("`", "``") + "`"
  private[validate] def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def columns(df: DataFrame, cols: Seq[String], exact: Boolean = true,
      groupBy: Option[String] = None): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = aggregates(cols, exact)
    val keys = groupBy.toSeq.map(c => col(bq(c)))
    unpivot(df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*), keys, cols)
  }

  /** The profile's aggregate columns: the row count `__n`, then four
    * per profiled column. [[CheckpointedValidation]] runs them in the
    * same `groupBy` as the verdict counters. */
  private[validate] def aggregates(cols: Seq[String], exact: Boolean): Seq[Column] =
    count(lit(1)).as("__n") +: cols.flatMap { c =>
      val v = col(bq(c))
      Seq(
        count(v).as(s"${c}__nn"),
        // rsd 0.05 (Spark default): rsd 0.01 needs 2^14 HLL registers,
        // which as unsafe-row aggregation-buffer fields per column blows
        // codegen up into multi-MB task binaries that dominate the pass.
        (if (exact) countDistinct(v) else approx_count_distinct(v, 0.05)).as(s"${c}__nd"),
        min(length(v)).cast(LongType).as(s"${c}__minl"),
        max(length(v)).cast(LongType).as(s"${c}__maxl"))
    }

  /** [[aggregates]]' row (`keys`, then any other columns, ignored) to one
    * row per (keys…, column): the profile's one output schema. */
  private[validate] def unpivot(row: DataFrame, keys: Seq[Column], cols: Seq[String]): DataFrame = {
    // identifiers/literals are quoted into the stack expr — a column
    // named `content-type` or `a.b` must not parse as arithmetic/field
    // access (lengthQuantiles documents the same hazard)
    val stackArgs = cols.map(c =>
      s"${sqlStr(c)}, ${bq(c + "__nn")}, ${bq(c + "__nd")}, " +
        s"${bq(c + "__minl")}, ${bq(c + "__maxl")}").mkString(", ")
    row.select(keys ++ Seq(col("__n"),
        expr(s"stack(${cols.size}, $stackArgs) as (col_name, nn, nd, minl, maxl)")): _*)
      .select(keys ++ Seq(
        col("col_name"),
        col("__n").cast(LongType).as("n_rows"),
        (col("__n") - col("nn")).cast(LongType).as("n_null"),
        col("nd").cast(LongType).as("n_distinct"),
        col("minl").as("min_len"),
        col("maxl").as("max_len")): _*)
  }
}

/** Scale-path profile: ONE custom TypedImperativeAggregate buffer per
  * column ([[graft.expr.ColumnProfileAgg]]) carrying count/null/min/
  * max-length and an HLL with 2^11 registers over xxhash64 (relative
  * standard error 1.04/√2048 ≈ 2.3%) together — one scan, one shuffle
  * of K small buffers, no Expand node. Other atomic columns are
  * profiled by their string form (binary by its bytes); array, map
  * and struct columns fail at analysis (profile `to_json(c)` instead).
  * [[Profile.columns]] with exact=true remains the oracle-comparable
  * form. The one-buffer aggregate is kept over the same body with
  * `hll_sketch_agg(c, 11)`: that sketch pushes the count/min/max
  * aggregates into `ObjectHashAggregate`, out of whole-stage code
  * generation, and measured ≈ 0.1 executor CPU-s slower on perfbench's
  * 50k-row `validate_scan` table. */
object ProfileSinglePass {
  def columns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    graft.expr.GraftFunctions.register(df.sparkSession)
    val types = df.select(cols.map(c => col(Profile.bq(c))): _*).schema.map(_.dataType)
    val aggs = cols.zip(types).map { case (c, t) =>
      val v = col(Profile.bq(c))
      // measured as `length` and COUNT(DISTINCT) see them: a date as
      // `2020-01-01`, not its day number
      val profiled = t match {
        case _: StringType | BinaryType | _: ArrayType | _: MapType | _: StructType => v
        case _ => v.cast(StringType)
      }
      call_function("col_profile", profiled).as(s"${c}__pr")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"${Profile.sqlStr(c)}, ${Profile.bq(c + "__pr")}").mkString(", ")
    row.select(expr(s"stack(${cols.size}, $stackArgs) as (col_name, pr)"))
      .select(col("col_name"), col("pr.n_rows"), col("pr.n_null"),
        col("pr.n_distinct_est"), col("pr.min_len"), col("pr.max_len"))
  }

  /** Per-column LENGTH quantiles in one aggregation pass
    * (percentile_approx — a mergeable per-partition sketch, the scale
    * companion of [[LengthHistogram]]'s full distribution): long-form
    * (col_name, p, len). Approximate by construction (accuracy 1/1e4),
    * so ScalaTest-verified against exact quantiles rather than
    * oracle-compared. Typed Column API throughout (column names are
    * never interpolated into SQL text); an all-null column keeps its
    * rows with null lengths rather than vanishing. */
  def lengthQuantiles(df: DataFrame, cols: Seq[String],
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(cols.nonEmpty, "lengthQuantiles needs at least one column")
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probabilities must be in [0, 1]: $probs")
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      percentile_approx(length(col(Profile.bq(c))), typedlit(probs), lit(10000)).as(s"__q_$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val nullQs = array(probs.map(_ => lit(null).cast(LongType)): _*)
    val entries = explode(array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"),
        coalesce(col(s"__q_$i").cast("array<bigint>"), nullQs).as("qs"))
    }: _*))
    row.select(entries.as("e"))
      .select(col("e.col_name").as("col_name"),
        posexplode(col("e.qs")).as(Seq("i", "len")))
      .select(col("col_name"),
        element_at(typedlit(probs), col("i") + 1).as("p"),
        col("len"))
  }
}

/** The one bucketed histogram: `floor(value / width)` as a long
  * `bucket`, NULL buckets dropped (a null value carries no length, and
  * a null bucket would sort first in a CDF and make drift measure the
  * null-rate difference), then `aggs` per `(keys…, bucket)`.
  * [[LengthHistogram]], [[IncrementalProfile.lengthHistogram]] and
  * [[DriftCheck]]'s two-sided histogram all build through it. */
private[validate] object Histogram {
  def apply(df: DataFrame, keys: Seq[String], value: Column, width: Int,
      aggs: Column*): DataFrame =
    // a temporary name, so `aggs` still see a data column named `bucket`
    df.withColumn("__bucket", floor(value / width).cast(LongType))
      .filter(col("__bucket").isNotNull)
      .groupBy(keys.map(k => col(Profile.bq(k))) :+ col("__bucket").as("bucket"): _*)
      .agg(aggs.head, aggs.tail: _*)
}

/** Per-column length histogram — the profile's distribution component
  * (north star: "length histograms"), one groupBy pass per column set,
  * emitted long-form (col_name, bucket, n_rows) so arbitrary column
  * counts share one output schema. */
object LengthHistogram {
  def compute(df: DataFrame, cols: Seq[String], bucketWidth: Int): DataFrame = {
    val lens = explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), length(col(Profile.bq(c))).as("len"))): _*))
    Histogram(df.select(lens.as("p")).select(col("p.col_name"), col("p.len")),
      Seq("col_name"), col("len"), bucketWidth, count(lit(1)).as("n_rows"))
  }
}

/** Two-sample drift over a bucketed numeric derivation, from one
  * aggregation pass: a two-sided histogram (`c0` counts the baseline
  * rows per bucket, `c1` the rest) reduced by a score. The
  * post-aggregation windows run over the tiny histogram (≤ a few
  * hundred buckets), so the single-partition window is deliberate, not
  * a scale bug.
  */
object DriftCheck {
  private val all =
    Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** `(bucket, c0, c1)` over [[Histogram]]: null values carry no bucket. */
  private def sides(df: DataFrame, value: Column, baseline: Column,
      bucketWidth: Int): DataFrame = {
    val isBase = when(baseline, 1L).otherwise(0L)
    Histogram(df, Nil, value, bucketWidth,
      sum(isBase).as("c0"), sum(lit(1L) - isBase).as("c1"))
  }

  /** Two-sample Kolmogorov–Smirnov distance: CDFs of both sides of the
    * histogram → max |ΔCDF|. */
  def ks(df: DataFrame, value: Column, baseline: Column, bucketWidth: Int): DataFrame = {
    val cum = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sides(df, value, baseline, bucketWidth)
      .select(
        (sum(col("c0")).over(cum).cast(DoubleType) / sum(col("c0")).over(all)).as("cdf0"),
        (sum(col("c1")).over(cum).cast(DoubleType) / sum(col("c1")).over(all)).as("cdf1"))
      .agg(round(max(abs(col("cdf0") - col("cdf1"))), 9).as("ks_stat"))
  }

  /** Population stability index over the same bucketed histogram as
    * [[ks]]: Σ (p1 - p0) * ln(p1 / p0) per bucket — the industry drift
    * score for training-data monitoring (rule of thumb: < 0.1 stable,
    * > 0.25 shifted). Zero-count buckets on either side use the
    * standard ε-floor so the log stays finite; one aggregation pass +
    * a tiny histogram reduction, same scale shape as [[ks]]. */
  def psi(df: DataFrame, value: Column, baseline: Column, bucketWidth: Int,
      eps: Double = 1e-6): DataFrame =
    psiOf(sides(df, value, baseline, bucketWidth), eps)

  /** [[psi]] from two PRE-AGGREGATED `(bucket, n)` histograms — the
    * incremental-drift entry: per-partition histograms commit next to
    * the data (one agg pass over the append at ingest), and a later
    * drift check merges the tiny histogram rows instead of rescanning
    * content (SparkEntry `v_drift_incr` certifies zero data IO via
    * inputFiles). Buckets absent from one side zero-fill, then the
    * same ε-floored reduction as [[psi]], so the two entries are
    * bit-identical on identical distributions. */
  def psiFromHists(h0: DataFrame, h1: DataFrame,
      eps: Double = 1e-6): DataFrame =
    psiOf(h0.select(col("bucket"), col("n").as("c0"))
      .join(h1.select(col("bucket"), col("n").as("c1")),
        Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("c0", "c1")), eps)

  /** The ε-floored PSI reduction of a `(c0, c1)` histogram. */
  private def psiOf(hist: DataFrame, eps: Double): DataFrame =
    hist
      .select(
        greatest(col("c0").cast(DoubleType) / sum(col("c0")).over(all), lit(eps)).as("p0"),
        greatest(col("c1").cast(DoubleType) / sum(col("c1")).over(all), lit(eps)).as("p1"))
      .agg(round(sum((col("p1") - col("p0")) * log(col("p1") / col("p0"))), 9).as("psi"))

  /** Total-variation distance between the categorical distributions of
    * `value` on the baseline side vs the rest: sum |p0 - p1| / 2 over
    * categories, from one aggregation pass (the drift check for
    * low-cardinality columns like `lang`). */
  def categoricalTv(df: DataFrame, value: Column, baseline: Column): DataFrame = {
    val counts = df
      .select(value.as("v"), when(baseline, 1L).otherwise(0L).as("is_base"))
      .groupBy(col("v"))
      .agg(sum(col("is_base")).as("c0"), sum(lit(1L) - col("is_base")).as("c1"))
    counts
      .select(
        (col("c0").cast(DoubleType) / sum(col("c0")).over(all)).as("p0"),
        (col("c1").cast(DoubleType) / sum(col("c1")).over(all)).as("p1"))
      .agg(round(sum(abs(col("p0") - col("p1"))) / 2, 9).as("tv_dist"))
  }
}

/** Per-(org, rule) verdict grid: every logical partition × every rule,
  * with violation counts and pass flags — including all-pass cells —
  * from one grouped pass with a counter per rule, as the reference's
  * `objectValidate` counts (transform/object_validate.go:86).
  * [[CheckpointedValidation]] runs the same counters in the grouped pass
  * that profiles each partition, and unpivots the collected rows
  * through the same code, so the two share one schema.
  */
object Verdicts {
  /** Partition key of a repo: its org, the part before the first `/`.
    * Two sentinels stand in for orgs that cannot name a partition:
    *  - `__null__` for a NULL repo. A NULL part NPEs the checkpointed
    *    runner's partition loop — the dirtiest rows must still land in
    *    a partition that gets graded;
    *  - `__empty__` for an empty org (repo `"/x"` or `""`), which the
    *    IceLite landing refuses as a part name.
    * The DuckDB oracle (`DuckSql`) maps both the same way; no sf
    * fixture has such a repo, real corpora do. */
  def org(repoCol: Column): Column = {
    val head = element_at(split(repoCol, "/"), 1)
    coalesce(when(head === "", lit("__empty__")).otherwise(head), lit("__null__"))
  }

  /** One `groupBy(part)` with a `count_if(!pass)` per rule, unpivoted
    * with `stack` to `(part, rule_id, violation_count, pass)`. A rule
    * flags a row at most once, and a NULL `pass` counts as no violation,
    * as in [[Violations.extract]]. Rule ids name the cells, so a
    * repeated id is refused. */
  def compute(spark: SparkSession, files: DataFrame, rules: Seq[RowRule]): DataFrame = {
    val part = org(col("repo")).as("part")
    if (rules.isEmpty) unpivot(files.select(part), rules)
    else {
      val cs = counters(rules)
      unpivot(files.groupBy(part).agg(cs.head, cs.tail: _*), rules)
    }
  }

  /** One `count_if(!pass)` per rule, the aggregate columns of
    * [[compute]]. [[CheckpointedValidation]] runs them in the same
    * `groupBy` as the profile's aggregates. */
  private[validate] def counters(rules: Seq[RowRule]): Seq[Column] = {
    val ids = rules.map(_.id)
    val repeated = ids.diff(ids.distinct).distinct
    require(repeated.isEmpty, s"duplicate rule ids: ${repeated.mkString(", ")}")
    rules.zipWithIndex.map { case (r, i) => count_if(!r.pass).as(s"__v$i") }
  }

  /** [[counters]]' row (`part`, then any other columns, ignored) to one
    * row per (part, rule): the verdicts' one output schema. */
  private[validate] def unpivot(row: DataFrame, rules: Seq[RowRule]): DataFrame =
    if (rules.isEmpty) // `stack(0, …)` does not parse; the same schema, no rows
      row.select(col("part"), lit(null).cast(StringType).as("rule_id"),
        lit(0L).as("violation_count"), lit(true).as("pass")).where(lit(false))
    else {
      // identifiers/literals quoted into the stack expr, as in Profile.columns
      val stackArgs = rules.zipWithIndex
        .map { case (r, i) => s"${Profile.sqlStr(r.id)}, ${Profile.bq(s"__v$i")}" }.mkString(", ")
      row.select(col("part"), expr(s"stack(${rules.size}, $stackArgs) as (rule_id, n)"))
        // `stack` types its outputs nullable; a count never is, and the
        // committed schema (hashed into IceLite lineage) says so
        .withColumn("violation_count", coalesce(col("n"), lit(0L)))
        .select(col("part"), col("rule_id"), col("violation_count"),
          (col("violation_count") === 0L).as("pass"))
    }
}
