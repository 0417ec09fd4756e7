package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task-level work, summed over the tasks of some set of jobs. */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    inputBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    inputBytes + o.inputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    inputBytes - o.inputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
  def cpuS: Double = cpuNs / 1e9
  def inputMb: Double = inputBytes / 1e6
  def shuffleMb: Double = shuffleWriteBytes / 1e6
}

/** The benchmark's SparkListener: sums task metrics overall and per job
  * group. Spans set a job group of their own around each call, so the
  * work a call caused is attributed to its span, including jobs that
  * the engine submits from its own pool threads (they inherit the
  * caller's group). Listener events arrive asynchronously; [[flush]]
  * waits until every event before it has been seen. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Work].withDefaultValue(Work())
  private var all = Work()
  private var flushed = -1
  private var flushes = 0

  sc.addSparkListener(this)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
    if (!g.startsWith(Meter.FlushGroup)) {
      byGroup(g) = byGroup(g) + Work(jobs = 1)
      all = all + Work(jobs = 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (!g.startsWith(Meter.FlushGroup) && m != null) {
      val w = Work(tasks = 1, cpuNs = m.executorCpuTime,
        inputBytes = m.inputMetrics.bytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
      byGroup(g) = byGroup(g) + w
      all = all + w
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).filter(_.startsWith(Meter.FlushGroup)).foreach { g =>
      flushed = math.max(flushed, g.stripPrefix(Meter.FlushGroup).toInt)
      notifyAll()
    }
  }

  /** Run a one-task job and wait until the listener has seen its end:
    * every task of every earlier job has then been counted. */
  def flush(): Unit = {
    val n = synchronized { flushes += 1; flushes }
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(Meter.FlushGroup + n, "listener flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally if (prev == null) sc.clearJobGroup() else sc.setLocalProperty("spark.jobGroup.id", prev)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    synchronized {
      while (flushed < n && System.nanoTime() < deadline) wait(100)
    }
    require(flushed >= n, "Spark listener events did not drain within 60 s")
  }

  def total: Work = synchronized(all)
  def group(g: String): Work = synchronized(byGroup(g))
}

object Meter {
  val FlushGroup = "perfbench-flush-"

  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Total GC pause time of this JVM so far, seconds. */
  def gcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Old-generation occupancy right after a full collection, MB. The
    * first collection lets Spark's ContextCleaner release what the
    * operation left behind (it reacts to collected references); the
    * second one, after it had time to, is the one measured. */
  def oldGenAfterGcMb: Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed).getOrElse(
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1e6
  }
}

/** One traced call: its place in the call tree, wall interval and the
  * Spark work its jobs did. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records a span around each call into the engine when tracing is on;
  * a plain pass-through when it is off. Spans stay in memory and are
  * written once, at the end of the run. */
final class Tracer(spark: SparkSession, meter: Meter, var enabled: Boolean) {
  private val sc = spark.sparkContext
  private val open = mutable.Stack.empty[(Int, Long)]
  private val done = mutable.ArrayBuffer.empty[(Int, Int, String, Long, Long)]
  private var nextId = 1
  private val t0 = System.nanoTime()

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      open.push(id -> System.nanoTime())
      try f
      finally {
        val (_, start) = open.pop()
        done += ((id, parent, name, start, System.nanoTime()))
        open.headOption match {
          case Some((p, _)) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Finished spans with their Spark work; call after [[Meter.flush]]. */
  def spans: Seq[Span] = done.toSeq.map { case (id, parent, name, s, e) =>
    Span(id, parent, name, s, e, meter.group(s"span-$id"))
  }

  /** Span duration minus the time its children cover (children run
    * sequentially on the caller's thread, so they do not overlap). */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val childTime = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    all.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  def toJson(all: Seq[Span]): String = {
    val self = selfSeconds(all)
    all.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s.id)}%.6f,"jobs":${s.work.jobs},"tasks":${s.work.tasks},""" +
        f""""cpu_s":${s.work.cpuS}%.6f,"input_mb":${s.work.inputMb}%.6f,""" +
        f""""shuffle_mb":${s.work.shuffleMb}%.6f,"spill_mb":${s.work.spillBytes / 1e6}%.6f}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
