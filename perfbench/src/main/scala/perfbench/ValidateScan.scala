package perfbench

import graft.model.FileRow
import graft.rules.FileRules
import graft.validate._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `validate_scan`: the north-rule validation pass over one generated
  * files table on parquet. One operation runs every `graft.validate`
  * check of the pass and forces each result fully. */
final class ValidateScan(spark: SparkSession, dir: String, spec: Spec, tr: Tracer)
    extends Workload {
  import spark.implicits._

  // the plain-Scala tally runs while Spark tasks write the input
  private val tallyF = Tally.async(spec)
  private val path = s"$dir/files.parquet"
  // a second session in the same run (the local[1] scaling pass) reuses the table
  if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    Inputs.filesFrame(spark, spec).write.parquet(path)
  val tally: Tally = Tally.await(tallyF)
  private val manifest = Gen.manifestRepos(spec).toDF("repo")
  private val rules = FileRules.rowRules
  private val profiled = tally.profiled

  def rows: Long = tally.rows

  private var last: ValidateScan.Results = _

  private def files: DataFrame = spark.read.parquet(path)

  /** Every violation row materialised with all its columns; per-rule
    * counts ride the same job through an observation. */
  private def violations(files: DataFrame): Map[String, Long] = {
    val obs = Observation("violations")
    val counts = rules.map(r => sum(when(col("rule_id") === r.id, 1L).otherwise(0L)).as(r.id))
    Violations.extract(files, rules).observe(obs, counts.head, counts.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> Option(v).map(_.asInstanceOf[Number].longValue).getOrElse(0L) }
  }

  def op(): Unit = pass(files)

  private def pass(f: DataFrame): Unit = {
    last = ValidateScan.Results(
      tr.span("validate.violations")(violations(f)),
      tr.span("validate.verdicts")(Verdicts.compute(spark, f, rules).collect().toSeq),
      tr.span("validate.unique")(Uniqueness.duplicates(f, FileRow.key).collect().toSeq),
      tr.span("validate.salted_count")(
        SaltedAgg.countByKeyAuto(f, Seq("repo")).collect().toSeq),
      tr.span("validate.referential")(Referential.orphansKnownSize(f, manifest, "repo", "repo",
        broadcastDim = true).collect().toSeq),
      tr.span("validate.profile")(ProfileSinglePass.columns(f, profiled).collect().toSeq),
      tr.span("validate.drift")(DriftCheck.ks(f, length(col("content")), col("batch") === 0,
        Gen.BucketWidth).collect()(0).getDouble(0)))
  }

  /** Traced-only extras: a bare scan of every column and the skew probe
    * on its own (countByKeyAuto runs it again inside). */
  def traceExtras(): Unit = {
    tr.span("validate.scan")(files.write.format("noop").mode("overwrite").save())
    tr.span("validate.skew_probe")(SaltedAgg.isSkewed(files, Seq("repo")))
  }

  def check(): Seq[String] = {
    val r = last
    val t = tally
    val out = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) out += what
    t.ruleIds.foreach(id => expect(s"violations of $id: ${r.ruleCounts.get(id)} != ${t.ruleCounts(id)}",
      r.ruleCounts.get(id).contains(t.ruleCounts(id))))
    expect(s"verdict grid has ${r.verdicts.size} cells, want ${t.orgs.size * t.ruleIds.size}",
      r.verdicts.size == t.orgs.size * t.ruleIds.size)
    r.verdicts.foreach { v =>
      val (part, rule, n, pass) = (v.getString(0), v.getString(1), v.getLong(2), v.getBoolean(3))
      expect(s"verdict ($part, $rule) = $n/$pass, want ${t.cells((part, rule))}",
        t.orgs(part) && n == t.cells((part, rule)) && pass == (n == 0))
    }
    val dups = r.dups.map(d => ((d.getString(0), d.getString(1), d.getString(2)), d.getLong(3)))
    expect(s"duplicate keys differ: ${dups.size} found, ${t.dupKeys.size} planted",
      dups.map(_._1).toSet == t.dupKeys && dups.size == t.dupKeys.size && dups.forall(_._2 == 2))
    val counts = r.repoCounts.map(x => x.getString(0) -> x.getLong(1)).toMap
    expect("salted per-repo counts differ", counts == t.repoRows.toMap)
    expect("salted counts do not sum to the input rows", counts.values.sum == t.rows)
    expect("orphan repos differ",
      r.orphans.map(x => x.getString(0) -> x.getLong(1)).toMap == t.orphanRepos)
    // HLL with 2^11 registers: relative standard error 1.04/sqrt(2048);
    // four standard errors keep a seed-independent check
    val hllTolerance = 4 * 1.04 / math.sqrt(2048)
    expect(s"profile has ${r.profile.size} columns", r.profile.size == profiled.size)
    r.profile.foreach { p =>
      val c = p.getString(0)
      val exact = t.distinctCount(c)
      expect(s"profile $c rows/nulls/lengths", p.getLong(1) == t.rows &&
        p.getLong(2) == t.nulls(c) && p.getLong(4) == t.minLen(c) && p.getLong(5) == t.maxLen(c))
      expect(s"profile $c distinct ${p.getLong(3)} vs exact $exact",
        math.abs(p.getLong(3) - exact) <= hllTolerance * exact)
    }
    expect(s"KS ${r.ks} != ${t.ks}", r.ks == t.ks)
    out.result()
  }
}

object ValidateScan {
  /** The collected results of one pass. */
  final case class Results(ruleCounts: Map[String, Long], verdicts: Seq[Row],
      dups: Seq[Row], repoCounts: Seq[Row], orphans: Seq[Row], profile: Seq[Row],
      ks: Double)
}
