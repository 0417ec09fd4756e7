package graft.io

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.SparkSession

/** The driver's one way to run several Spark jobs or file moves at once.
  *
  *  - Each call makes its own fixed pool of `min(width, items)` threads
  *    and always shuts it down, so nested fan-outs (partitions, then each
  *    partition's tables) never wait on a shared pool and no non-daemon
  *    thread outlives the call.
  *  - The caller's job group, description, interrupt flag and scheduler
  *    pool are re-applied in every worker (absent keys are cleared), so
  *    each job is attributed to, and cancellable with, the caller's group.
  *  - Every task settles before the call returns; then the first failure
  *    (in item order) is rethrown. A fail-fast wait would leave sibling
  *    writes running into directories a resume or discard is about to
  *    overwrite.
  */
private[graft] object DriverFanOut {
  private val PropKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  def apply[A, B](spark: SparkSession, width: Int, items: Seq[A])(
      f: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val props = PropKeys.map(k => k -> sc.getLocalProperty(k))
    // threads start on submit, so an empty fan-out starts none
    val pool =
      Executors.newFixedThreadPool(math.max(1, math.min(width, items.size)))
    try {
      val futures = items.map(a => pool.submit(new Callable[B] {
        def call(): B = {
          props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          f(a)
        }
      }))
      val settled = futures.map { fut =>
        try Right(fut.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      settled.collectFirst { case Left(e) => e }.foreach(e => throw e)
      settled.collect { case Right(b) => b }
    } finally pool.shutdown()
  }
}
