package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The traced run of one workload. After the same warm-up as an
  * untraced run, three untraced repeats give the operation's throughput
  * and CPU cost; then one repeat runs with a span around each public
  * call, its Spark jobs grouped under that span (its time over the
  * untraced median is the tracing overhead). Calls whose cost
  * hides inside another call (playbook steps, graph derivation, sinks)
  * are measured as cumulative prefixes. The `snapshot_commit` traced run
  * also measures the playbook layers, and the `validate_scan` one reruns
  * its pass at local[1] for the scaling efficiency. Every per-layer
  * metric is reported; the layers a run never calls read 0. */
object Trace {
  val Units: Seq[(String, String)] = Seq(
    "op.rows_per_s" -> "rows/s", "op.cpu_s_per_mrow" -> "s",
    "validate.scan.s" -> "s", "validate.violations.s" -> "s", "validate.violations.cpu_s" -> "s",
    "validate.verdicts.s" -> "s", "validate.verdicts.shuffle_mb" -> "MB",
    "validate.unique.s" -> "s", "validate.unique.shuffle_mb" -> "MB",
    "validate.skew_probe.s" -> "s", "validate.skew_probe.jobs" -> "count",
    "validate.salted_count.s" -> "s", "validate.salted_count.shuffle_mb" -> "MB",
    "validate.referential.s" -> "s", "validate.profile.s" -> "s", "validate.profile.cpu_s" -> "s",
    "validate.drift.s" -> "s", "validate.jobs" -> "count", "validate.scaling_eff" -> "ratio",
    "checkpoint.run.s" -> "s", "checkpoint.run.jobs" -> "count", "checkpoint.run.cpu_s" -> "s",
    "checkpoint.read_amp" -> "ratio", "checkpoint.resume.s" -> "s",
    "checkpoint.resume.jobs" -> "count", "checkpoint.resume.parts_skipped" -> "count",
    "io.files_written" -> "count", "io.data_mb" -> "MB", "io.meta_kb" -> "KB",
    "io.lineage_records" -> "count",
    "pipeline.load.s" -> "s", "pipeline.run.s" -> "s", "pipeline.run.jobs" -> "count",
    "pipeline.input_reads" -> "ratio", "sources.ndjson.s" -> "s",
    "pipeline.step.project.s" -> "s", "pipeline.step.lookup.s" -> "s",
    "pipeline.step.hash.s" -> "s", "pipeline.step.validate.s" -> "s",
    "pipeline.step.distinct.s" -> "s",
    "graph.vertices.s" -> "s", "graph.edges.s" -> "s", "graph.orphans.s" -> "s",
    "graph.orphans.shuffle_mb" -> "MB",
    "sinks.graph.s" -> "s", "sinks.graph.mb" -> "MB", "sinks.table.s" -> "s", "sinks.table.mb" -> "MB",
    "jvm.gc_s" -> "s", "trace.overhead_pct" -> "%")

  def run(spark0: SparkSession, meter0: Meter, named: String, seed: Long, workdir: String,
      traceFile: String): (Int, Int, Boolean, Seq[(String, Double, String)]) = {
    var spark = spark0
    var meter = meter0
    val tr = new Tracer(spark, meter, enabled = false)
    // layers this workload does not call stay at 0
    val m = mutable.LinkedHashMap.empty[String, Double] ++ Units.map(_._1 -> 0.0)
    val counts = mutable.LinkedHashMap.empty[String, Double]
    val allSpans = mutable.ArrayBuffer.empty[Span]
    val outcomes = mutable.ArrayBuffer.empty[Seq[String]]

    /** Run `f` with spans on; returns the spans it recorded. */
    def traced(f: => Unit): Seq[Span] = {
      meter.flush()
      val mark = tr.spans.size
      tr.enabled = true
      try f finally tr.enabled = false
      meter.flush()
      val spans = tr.spans.drop(mark)
      allSpans ++= spans
      spans
    }
    /** One traced repeat; `inspect` sees its output before cleanup. */
    def tracedRepeat(w: Workload)(inspect: => Unit): (Seq[Span], Double) = {
      var opS = 0.0
      val spans = traced {
        val t0 = System.nanoTime()
        w.op()
        opS = (System.nanoTime() - t0) / 1e9
      }
      outcomes += w.check()
      inspect
      w.cleanup()
      (spans, opS)
    }
    def untimed(w: Workload): Sample = {
      val s = Main.repeatOnce(w, meter, measureHeap = false)
      outcomes += s.failures
      s
    }
    def one(spans: Seq[Span], name: String): Span =
      spans.find(_.name == name).getOrElse(sys.error(s"no span $name"))

    val w = Main.make(named, spark, workdir, seed, tr)
    counts("rows") = w.rows.toDouble
    Main.log("inputs generated")
    val warm = Main.warmUp(w, meter)
    outcomes ++= warm.map(_.failures)
    // three untraced repeats, then the traced one the layer figures come
    // from: the ratio of its time to theirs is the tracing overhead
    val untraced = Seq.fill(3)(untimed(w))
    def med(f: Sample => Double) = Stats.median(untraced.map(f))
    val untracedS = med(_.opS)
    m("op.rows_per_s") = w.rows / untracedS
    m("op.cpu_s_per_mrow") = med(_.work.cpuS) / (w.rows / 1e6)
    m("jvm.gc_s") = med(_.gcS)
    counts("untraced_op_s") = untracedS

    def layers(w: Workload): Unit = w match {
      case v: ValidateScan =>
        val (sp, opS) = tracedRepeat(v)(())
        counts("traced_op_s") = opS
        def s(n: String) = one(sp, s"validate.$n")
        Seq("violations", "verdicts", "unique", "salted_count", "referential", "profile", "drift")
          .foreach(n => m(s"validate.$n.s") = s(n).seconds)
        m("validate.violations.cpu_s") = s("violations").work.cpuS
        m("validate.verdicts.shuffle_mb") = s("verdicts").work.shuffleMb
        m("validate.unique.shuffle_mb") = s("unique").work.shuffleMb
        m("validate.salted_count.shuffle_mb") = s("salted_count").work.shuffleMb
        m("validate.profile.cpu_s") = s("profile").work.cpuS
        m("validate.jobs") = sp.map(_.work.jobs).sum.toDouble
        val extra = traced(v.traceExtras())
        m("validate.scan.s") = one(extra, "validate.scan").seconds
        m("validate.skew_probe.s") = one(extra, "validate.skew_probe").seconds
        m("validate.skew_probe.jobs") = one(extra, "validate.skew_probe").work.jobs.toDouble
      case c: SnapshotCommit =>
        // in-memory size of the cached input, the base of the read amplification
        val cached = c.files.cache()
        cached.count()
        val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
        cached.unpersist(blocking = true)
        counts("cached_input_mb") = cachedBytes / 1e6
        val (sp, opS) = tracedRepeat(c) {
          val root = c.oneShotRoot
          val (bytes, files) = Inputs.du(root)
          val (dataBytes, _) = Inputs.du(s"$root/data")
          m("io.files_written") = files.toDouble
          m("io.data_mb") = dataBytes / 1e6
          m("io.meta_kb") = (bytes - dataBytes) / 1e3
          m("io.lineage_records") = Inputs.du(s"$root/lineage")._2.toDouble
        }
        counts("traced_op_s") = opS
        val run = one(sp, "checkpoint.run")
        m("checkpoint.run.s") = run.seconds
        m("checkpoint.run.jobs") = run.work.jobs.toDouble
        m("checkpoint.run.cpu_s") = run.work.cpuS
        m("checkpoint.read_amp") = run.work.inputBytes / cachedBytes
        var fin: Option[Seq[String]] = None
        val finSpans = traced { fin = Main.finale(c) }
        outcomes ++= fin
        val resume = one(finSpans, "checkpoint.resume")
        m("checkpoint.resume.s") = resume.seconds
        m("checkpoint.resume.jobs") = resume.work.jobs.toDouble
        m("checkpoint.resume.parts_skipped") = c.CrashAfter.toDouble
      case p: PlaybookGraph =>
        val (sp, opS) = tracedRepeat(p) { counts("written_mb") = Inputs.du(p.outDir)._1 / 1e6 }
        if (named == "playbook_graph") counts("traced_op_s") = opS
        counts("ndjson_mb") = p.ndjsonBytes / 1e6
        val run = one(sp, "pipeline.run")
        m("pipeline.load.s") = one(sp, "pipeline.load").seconds
        m("pipeline.run.s") = run.seconds
        m("pipeline.run.jobs") = run.work.jobs.toDouble
        m("pipeline.input_reads") = run.work.inputBytes.toDouble / p.ndjsonBytes
        m("graph.orphans.s") = one(sp, "graph.orphans").seconds
        m("graph.orphans.shuffle_mb") = one(sp, "graph.orphans").work.shuffleMb
        var steps = Map.empty[String, Double]
        traced { steps = p.tracePrefixes() }
        m ++= steps
    }

    layers(w)
    m("trace.overhead_pct") = (counts("traced_op_s") / untracedS - 1) * 100
    Main.log(s"$named layers traced")
    // playbook_graph is not among the benchmark's timed workloads (see
    // README); the snapshot_commit traced run also measures its layers
    if (named == "snapshot_commit") {
      val p = Main.make("playbook_graph", spark, workdir, seed, tr)
      Seq.fill(2)(untimed(p))
      layers(p)
      Main.log("playbook layers traced")
    }
    if (named == "validate_scan") {
      // scaling: the same pass at local[1] in this JVM, against local[4] above
      spark.stop()
      spark = GraftSession.local(1)
      meter = new Meter(spark)
      val v1 = Main.make(named, spark, workdir, seed, new Tracer(spark, meter, enabled = false))
      untimed(v1)
      val t1 = untimed(v1).opS
      m("validate.scaling_eff") = t1 / (Main.Cores * untracedS)
      counts("local1_op_s") = t1
      Main.log("local[1] pass timed")
    }

    val metrics = Units.map { case (n, u) => (n, m(n), u) }
    val json = s"""{"workload": "$named", "seed": $seed, "cores": ${Main.Cores}, """ +
      s""""metrics": ${Main.metricsJson(metrics)}, "counts": ${counts.map { case (k, v) =>
        s""""$k": ${Main.num(v)}""" }.mkString("{", ", ", "}")}, "spans": ${tr.toJson(allSpans.toSeq)}}"""
    Files.createDirectories(Paths.get(traceFile).toAbsolutePath.getParent)
    Files.writeString(Paths.get(traceFile), json + "\n")
    outcomes.flatten.distinct.foreach(f => Main.log(s"FAILED: $f"))
    spark.stop()
    val failed = outcomes.count(_.nonEmpty)
    (outcomes.size, failed, failed == 0, metrics)
  }
}
