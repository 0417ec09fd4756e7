package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs started under one job group, the task input
  * bytes they read and the shuffle records they write. Register it
  * with `sparkContext.addSparkListener` before calling [[jobsOf]],
  * [[inputBytesOf]] or [[shuffleRecordsOf]]. */
final class GroupJobs extends SparkListener {
  private val seen = scala.collection.mutable.Buffer.empty[String]
  private val groupOfStage = scala.collection.mutable.Map.empty[Int, String]
  private val read = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val shuffled = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    seen += group
    e.stageIds.foreach(groupOfStage(_) = group)
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (group <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      read(group) += m.inputMetrics.bytesRead
      shuffled(group) += m.shuffleWriteMetrics.recordsWritten
    }
  }

  /** Waits until a job of `fence` (started after `group`'s) arrived:
    * listener events arrive in order on one queue. */
  private def drained(fence: String): Unit = synchronized {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen.contains(fence) && System.nanoTime() < deadline) wait(100)
    assert(seen.contains(fence), "listener events did not drain in 60 s")
  }

  /** Runs `body` under job group `tag`, then a fence job. */
  private def tagged(tag: String)(body: => Unit): Unit = {
    val sc = TestSpark.spark.sparkContext
    sc.setJobGroup(tag, tag)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-end", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    drained(s"$tag-end")
  }

  /** The number of Spark jobs `body` starts, run under job group `tag`. */
  def jobsOf(tag: String)(body: => Unit): Int = {
    tagged(tag)(body)
    synchronized(seen.count(_ == tag))
  }

  /** The task input bytes of the jobs `body` starts under job group `tag`. */
  def inputBytesOf(tag: String)(body: => Unit): Long = {
    tagged(tag)(body)
    synchronized(read(tag))
  }

  /** The shuffle records written by the jobs `body` starts under job
    * group `tag`. */
  def shuffleRecordsOf(tag: String)(body: => Unit): Long = {
    tagged(tag)(body)
    synchronized(shuffled(tag))
  }
}
