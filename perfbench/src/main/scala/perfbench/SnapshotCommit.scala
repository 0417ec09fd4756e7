package perfbench

import java.nio.file.Files
import graft.io.IceLite
import graft.rules.FileRules
import graft.validate.CheckpointedValidation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `snapshot_commit`: a resumable validation snapshot committed per org
  * partition through IceLite. One operation is a one-shot commit into a
  * fresh root. Once per run a second run crashes after [[CrashAfter]]
  * partitions and is resumed (the crash cycle costs about two commits,
  * so it is not repeated with every commit). */
final class SnapshotCommit(spark: SparkSession, dir: String, spec: Spec, tr: Tracer)
    extends Workload {
  val CrashAfter = 2

  // the plain-Scala tally runs while Spark tasks write the input
  private val tallyF = Tally.async(spec)
  private val path = s"$dir/files.parquet"
  Inputs.filesFrame(spark, spec).write.parquet(path)
  val tally: Tally = Tally.await(tallyF)
  private val rules = FileRules.rowRules
  private var repeat = 0

  def rows: Long = tally.rows
  def files: DataFrame = spark.read.parquet(path)
  def oneShotRoot: String = s"$dir/ice-$repeat"
  private def crashRoot = s"$dir/ice-crash"

  private var snap = 0L
  private var oneShot = Set.empty[(String, String, Long, Boolean)]
  private val failures = Seq.newBuilder[String]
  private def expect(what: String, ok: Boolean): Unit = if (!ok) failures += what

  def op(): Unit = {
    repeat += 1
    failures.clear()
    snap = tr.span("checkpoint.run")(CheckpointedValidation.run(spark, files, rules, oneShotRoot))
  }

  private def verdicts(root: String, s: Long): Set[(String, String, Long, Boolean)] =
    new IceLite(root).readTable(spark, s, "verdicts")
      .select("part", "rule_id", "violation_count", "pass").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet

  // org names are plain ASCII, so a record's file name is the part name
  private def lineageRecords(ice: IceLite, s: Long): Map[String, Seq[Byte]] =
    ice.completedParts(s).toSeq.map(p =>
      p -> Files.readAllBytes(ice.lineageDir(s).resolve(s"$p.json")).toSeq).toMap

  /** Once per run, after the timed commits: crash a second run after
    * [[CrashAfter]] partitions, then resume it. Lists what differs. */
  override def finale(): Option[Seq[String]] = Some {
    failures.clear()
    val root = crashRoot
    val ice = new IceLite(root)
    val pending = ice.nextSnapshotId
    val crashed = try {
      tr.span("checkpoint.crash")(CheckpointedValidation.run(spark, files, rules, root,
        crashAfter = Some(CrashAfter)))
      false
    } catch { case _: CheckpointedValidation.SimulatedCrash => true }
    expect("crash run did not crash", crashed)
    val before = lineageRecords(ice, pending)
    expect(s"${before.size} lineage records after a crash at $CrashAfter", before.size == CrashAfter)
    expect("a crashed run advanced the snapshot id", ice.nextSnapshotId == pending)
    val resumed = tr.span("checkpoint.resume")(CheckpointedValidation.run(spark, files, rules, root))
    expect(s"resume committed snapshot $resumed, not the pending $pending", resumed == pending)
    val after = lineageRecords(ice, pending)
    expect("resume rewrote a lineage record committed before the crash",
      before.forall { case (p, bytes) => after.get(p).contains(bytes) })
    expect("resumed verdicts differ from the one-shot run's", verdicts(root, resumed) == oneShot)
    val lineageRows = ice.lineage(spark).filter(col("snapshot") === resumed)
      .agg(sum("rows")).collect()(0).getLong(0)
    expect(s"lineage rows $lineageRows != ${tally.rows}", lineageRows == tally.rows)
    Inputs.deleteTree(root)
    failures.result()
  }

  def check(): Seq[String] = {
    val t = tally
    val ice = new IceLite(oneShotRoot)
    oneShot = verdicts(oneShotRoot, snap)
    val want = for (o <- t.orgs; r <- t.ruleIds) yield {
      val n = t.cells((o, r)); (o, r, n, n == 0)
    }
    expect(s"committed verdicts differ from the tally (${oneShot.size} vs ${want.size} cells)",
      oneShot == want)
    expect("committed parts are not the orgs", ice.snapshotParts(snap).toSet == t.orgs)
    failures.result()
  }

  /** Drop this repeat's root once its metrics have been read. */
  override def cleanup(): Unit = Inputs.deleteTree(oneShotRoot)
}
