package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.GraftSession
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One repeat of a workload: the timed operation and what it cost. */
final case class Sample(opS: Double, work: Work, gcS: Double, failures: Seq[String],
    heapMb: Double)

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --workdir <dir> --trace-file <file>`. Prints one line
  * `PERFBENCH_RESULT <json>` on stdout. */
object Main {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1f s] $msg")

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Input sizes. At these sizes an operation's time is mostly the
    * engine's per-job cost (tens of Spark jobs per operation). They are as
    * large as the benchmark's time budget allows: a run, with its cold
    * start, three warm-up repeats and two or more measured ones, takes about a
    * minute. */
  def spec(workload: String, seed: Long): Spec = workload match {
    case "validate_scan" => Spec(seed, rows = 50000, orgs = 24)
    case "snapshot_commit" => Spec(seed, rows = 10000, orgs = 3)
    case "playbook_graph" => Spec(seed, rows = 20000, orgs = 24)
    case other => sys.error(s"unknown workload '$other'")
  }

  val Workloads: Seq[String] = Seq("validate_scan", "snapshot_commit", "playbook_graph")

  def make(name: String, spark: SparkSession, dir: String, seed: Long, tr: Tracer): Workload = {
    val d = s"$dir/$name"
    Files.createDirectories(Paths.get(d))
    name match {
      case "validate_scan" => new ValidateScan(spark, d, spec(name, seed), tr)
      case "snapshot_commit" => new SnapshotCommit(spark, d, spec(name, seed), tr)
      case "playbook_graph" => new PlaybookGraph(spark, d, spec(name, seed), tr)
    }
  }

  def repeatOnce(w: Workload, meter: Meter, measureHeap: Boolean): Sample = {
    meter.flush()
    val w0 = meter.total
    val g0 = Meter.gcSeconds
    val t0 = System.nanoTime()
    val err = try { w.op(); None } catch { case NonFatal(e) => Some(s"operation threw: $e") }
    val opS = (System.nanoTime() - t0) / 1e9
    val gcS = Meter.gcSeconds - g0
    meter.flush()
    val work = meter.total - w0
    val failures = err.map(Seq(_)).getOrElse(
      try w.check() catch { case NonFatal(e) => Seq(s"check threw: $e") })
    w.cleanup()
    val heap = if (measureHeap) Meter.oldGenAfterGcMb else 0.0
    Sample(opS, work, gcS, failures, heap)
  }

  /** The workload's once-per-run operation, if it has one. */
  def finale(w: Workload): Option[Seq[String]] =
    try w.finale() catch { case NonFatal(e) => Some(Seq(s"final operation threw: $e")) }

  /** Untimed warm-up of three repeats: the first repeat in a JVM is
    * about three times slower than the third, and the next ones are
    * about ten percent faster still. A fixed count keeps the set-up time
    * and the history the measured repeats see the same in every run. */
  val WarmUps = 3

  def warmUp(w: Workload, meter: Meter): Seq[Sample] =
    (1 to WarmUps).map { i =>
      val s = repeatOnce(w, meter, measureHeap = false)
      require(s.failures.isEmpty, s"warm-up repeat failed: ${s.failures.mkString("; ")}")
      log(f"warm-up $i: ${s.opS}%.3f s")
      s
    }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val workdir = arg(args, "workdir")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val spark = GraftSession.local(Cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val meter = new Meter(spark)
    try {
      val (attempted, failed, correct, metrics) =
        if (traced) Trace.run(spark, meter, workload, seed, workdir, arg(args, "trace-file"))
        else measure(spark, meter, workload, seed, seconds, workdir, sessionS)
      println(s"""PERFBENCH_RESULT {"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": ${metricsJson(metrics)}}""")
    } finally spark.stop()
  }

  def measure(spark: SparkSession, meter: Meter, workload: String, seed: Long,
      seconds: Double, workdir: String, sessionS: Double)
      : (Int, Int, Boolean, Seq[(String, Double, String)]) = {
    val tr = new Tracer(spark, meter, enabled = false)
    log("session ready")
    val w = make(workload, spark, workdir, seed, tr)
    log("inputs generated")
    val warmStart = System.nanoTime()
    warmUp(w, meter)
    val setupS = sessionS + (System.nanoTime() - warmStart) / 1e9
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    while (samples.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
      samples += repeatOnce(w, meter, measureHeap = true)
    val fin = finale(w)
    val ok = samples.filter(_.failures.isEmpty)
    val failures = samples.map(_.failures) ++ fin
    failures.flatten.distinct.foreach(f => log(s"FAILED: $f"))
    def med(f: Sample => Double) = Stats.median(ok.map(f).toSeq)
    log(f"$workload seed=$seed rows=${w.rows} setup=$setupS%.2f s " +
      f"rows_per_s=${w.rows / med(_.opS)}%.0f cpu_s_per_mrow=${med(_.work.cpuS) / (w.rows / 1e6)}%.2f " +
      s"ops=${samples.map(s => f"${s.opS}%.3f").mkString(",")} " +
      s"heap=${samples.map(s => f"${s.heapMb}%.1f").mkString(",")}")
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("read_mb", med(_.work.inputMb), "MB"),
      ("shuffle_mb", med(_.work.shuffleMb), "MB"),
      ("heap_mb", ok.map(_.heapMb).minOption.getOrElse(Double.NaN), "MB"))
    val failed = failures.count(_.nonEmpty)
    (failures.size, failed, failed == 0, metrics)
  }
}
