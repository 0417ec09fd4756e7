package graft

import graft.synth.FilesTable
import graft.validate.{DriftCheck, IncrementalProfile, LengthHistogram, Profile, ProfileSinglePass}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom TypedImperativeAggregate profile against the exact
  * profile, and the one histogram builder against a plain-Scala
  * `floorDiv` model. */
class ProfileAggSpec extends AnyFunSuite {
  import TestSpark._

  lazy val files = FilesTable.files(spark, sf).cache()
  val cols = Seq("repo", "path", "lang", "content")

  /** perfbench's bound for a 2^11-register sketch: four standard errors. */
  private val hllTolerance = 4 * 1.04 / math.sqrt(2048)

  /** Counts and lengths equal the exact profile's, distinct counts are
    * within `tolerance` (relative), and the plan needs no Expand. */
  private def assertMatchesExact(df: DataFrame, cs: Seq[String],
      tolerance: Double = hllTolerance): Unit = {
    def byName(p: DataFrame) = p.collect().map(r => r.getString(0) -> r).toMap
    val exact = byName(Profile.columns(df, cs, exact = true))
    val fastDf = ProfileSinglePass.columns(df, cs)
    val fast = byName(fastDf)
    assert(fastDf.columns.toSeq ===
      Seq("col_name", "n_rows", "n_null", "n_distinct_est", "min_len", "max_len"))
    assert(fast.keySet === cs.toSet)
    cs.foreach { c =>
      val (e, f) = (exact(c), fast(c))
      Seq("n_rows", "n_null", "min_len", "max_len").foreach { k =>
        assert(f.get(f.fieldIndex(k)) === e.get(e.fieldIndex(k)), s"$c.$k")
      }
      val (ed, fd) = (e.getAs[Long]("n_distinct"), f.getAs[Long]("n_distinct_est"))
      assert(math.abs(fd - ed) <= tolerance * ed, s"$c: exact=$ed est=$fd")
    }
    val plan = fastDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(400))
  }

  test("single-pass profile: exact stats match, HLL within 5%") {
    assertMatchesExact(files, cols, tolerance = 0.05)
  }

  test("single-pass profile plan has one aggregate, no Expand") {
    val plan = ProfileSinglePass.columns(files, cols)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(400))
  }

  test("all-null column: both profile forms agree on NULL min/max length") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("i")
      .select(lit(null).cast("string").as("allnull"))
    assertMatchesExact(df, Seq("allnull"))
    val fast = ProfileSinglePass.columns(df, Seq("allnull")).collect()(0)
    // no length was observed — 0 would claim an empty string was seen
    assert(fast.isNullAt(fast.fieldIndex("min_len")))
    assert(fast.isNullAt(fast.fieldIndex("max_len")))
    assert(fast.getAs[Long]("n_null") === 3L)
    assert(fast.getAs[Long]("n_distinct_est") === 0L)
  }

  test("hostile column names (dots, dashes, quotes) survive the profile stack expr") {
    import spark.implicits._
    val df = Seq(("x", "yy"), ("zzz", null)).toDF("content-type", "a.b's")
    assertMatchesExact(df, Seq("content-type", "a.b's"))
    val fast = ProfileSinglePass.columns(df, Seq("content-type", "a.b's"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_null")).toMap
    assert(fast === Map("content-type" -> 0L, "a.b's" -> 1L))
  }

  test("buffer survives serialize/deserialize roundtrip") {
    import graft.expr.ColumnProfileAgg
    val agg = ColumnProfileAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"))
    val b = agg.createAggregationBuffer()
    b.n = 7; b.nulls = 2; b.minLen = 1; b.maxLen = 9; b.regs(3) = 5
    val b2 = agg.deserialize(agg.serialize(b))
    assert((b2.n, b2.nulls, b2.minLen, b2.maxLen, b2.regs(3)) === ((7L, 2L, 1L, 9L, 5.toByte)))
  }

  test("atomic column types match the exact profile; arrays fail") {
    // int, double, date and timestamp count by their string form,
    // binary by its bytes (a two-byte "é" is length 2); "" and the
    // empty byte array are distinct values too
    val digits = (col("id") % 41).cast("string").cast("binary")
    val df = spark.range(400).select(
      (col("id") % 37).cast("int").as("i"),
      when(col("id") % 11 === 0, lit(null)).otherwise((col("id") % 53) / 4.0).as("d"),
      when(col("id") % 13 === 0, lit(Array.emptyByteArray))
        .when(col("id") % 7 === 0, concat(lit(Array(0xc3.toByte, 0xa9.toByte)), digits))
        .otherwise(digits).as("b"),
      when(col("id") % 5 === 0, lit("")).otherwise((col("id") % 29).cast("string")).as("s"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 17).cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3601).as("ts"))
    assertMatchesExact(df, Seq("i", "d", "b", "s", "dt", "ts"))
    intercept[AnalysisException] {
      ProfileSinglePass.columns(df.select(array(col("i")).as("arr")), Seq("arr"))
    }
  }

  // ---- the histogram builder against floorDiv ----

  private val width = 4
  private val values: Seq[(String, Option[Long], Boolean)] =
    (-23L to 31L).map(v => (if (v % 3 == 0) "g0" else "g1",
      Some(v * 7 % 19).filter(_ => v % 10 != 0), v % 2 == 0))

  private lazy val valueDf: DataFrame = {
    import spark.implicits._
    values.map { case (g, v, b) => (g, v.map(Long.box).orNull, b) }
      .toDF("g", "v", "base")
  }

  /** floorDiv buckets of the non-NULL values, counted per key. */
  private def model[K](rows: Seq[(K, Option[Long])]): Map[(K, Long), Long] =
    rows.collect { case (k, Some(v)) => (k, Math.floorDiv(v, width.toLong)) }
      .groupBy(identity).map { case (kb, xs) => kb -> xs.size.toLong }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("histograms: floorDiv buckets, NULLs dropped, negatives floor down") {
    assert(values.exists(_._2.exists(_ < 0)) && values.exists(_._2.isEmpty))
    val ungrouped = IncrementalProfile.lengthHistogram(valueDf, col("v"), width)
      .collect().map(r => ((), r.getAs[Long]("bucket")) -> r.getAs[Long]("n")).toMap
    assert(ungrouped === model(values.map(x => ((), x._2))))
    val grouped = IncrementalProfile
      .lengthHistogram(valueDf, col("v"), width, groupBy = Some("g"))
    assert(grouped.columns.toSeq === Seq("g", "bucket", "n"))
    assert(grouped.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap ===
      model(values.map(x => (x._1, x._2))))

    val strs = valueDf.select(
      when(col("v").isNull, lit(null)).otherwise(repeat(lit("ab"), col("v").cast("int")))
        .as("twice"),
      col("g"))
    val lens = LengthHistogram.compute(strs, Seq("twice", "g"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lensModel = values.flatMap { case (g, v, _) =>
      Seq("twice" -> v.map(x => 2 * math.max(x, 0L)), "g" -> Some(g.length.toLong))
    }.collect { case (c, Some(l)) => (c, Math.floorDiv(l, 3L)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    assert(lens === lensModel)
  }

  test("ks and psi reduce the floorDiv two-sided histogram") {
    val base = model(values.map(x => (x._3, x._2)))
    val buckets = base.keys.map(_._2).toSeq.distinct.sorted
    val c0 = buckets.map(b => base.getOrElse((true, b), 0L).toDouble)
    val c1 = buckets.map(b => base.getOrElse((false, b), 0L).toDouble)
    val cdf = (c: Seq[Double]) => c.scanLeft(0.0)(_ + _).tail.map(_ / c.sum)
    val ks = cdf(c0).zip(cdf(c1)).map { case (a, b) => math.abs(a - b) }.max
    val eps = 1e-6
    val psi = c0.zip(c1).map { case (a, b) =>
      val (p0, p1) = (math.max(a / c0.sum, eps), math.max(b / c1.sum, eps))
      (p1 - p0) * math.log(p1 / p0)
    }.sum
    val sparkKs = DriftCheck.ks(valueDf, col("v"), col("base"), width).collect()(0).getDouble(0)
    val sparkPsi = DriftCheck.psi(valueDf, col("v"), col("base"), width).collect()(0).getDouble(0)
    assert(math.abs(sparkKs - round9(ks)) <= 1e-9, s"ks $sparkKs vs model $ks")
    assert(math.abs(sparkPsi - round9(psi)) <= 1e-9, s"psi $sparkPsi vs model $psi")
    assert(ks > 0 && psi > 0)
    // the pre-aggregated entry reduces the same buckets identically
    val side = (b: Boolean) => IncrementalProfile.lengthHistogram(
      valueDf.filter(col("base") === b), col("v"), width)
    assert(DriftCheck.psiFromHists(side(true), side(false)).collect()(0).getDouble(0) ===
      sparkPsi)
  }
}
