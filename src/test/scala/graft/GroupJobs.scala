package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started under one job group. Register it with
  * `sparkContext.addSparkListener` before calling [[jobsOf]]. */
final class GroupJobs extends SparkListener {
  private val seen = scala.collection.mutable.Buffer.empty[String]
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seen += Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    notifyAll()
  }

  /** Jobs of `group`, once a job of `fence` (started after it) arrived:
    * listener events arrive in order on one queue. */
  private def count(group: String, fence: String): Int = synchronized {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen.contains(fence) && System.nanoTime() < deadline) wait(100)
    assert(seen.contains(fence), "listener events did not drain in 60 s")
    seen.count(_ == group)
  }

  /** The number of Spark jobs `body` starts, run under job group `tag`. */
  def jobsOf(tag: String)(body: => Unit): Int = {
    val sc = TestSpark.spark.sparkContext
    sc.setJobGroup(tag, tag)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-end", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    count(tag, s"$tag-end")
  }
}
