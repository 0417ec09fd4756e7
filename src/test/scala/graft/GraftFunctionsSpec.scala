package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.expr.{GraftFunctions, PolyHash}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftFunctions.register]] on a live session: idempotent, and it
  * takes a name back from a foreign function. */
class GraftFunctionsSpec extends AnyFunSuite {
  import TestSpark._

  /** The number of "replaced a previously registered function" log
    * events `body` causes. */
  private def replacements(body: => Unit): Int = {
    val n = new AtomicInteger
    val counter = new AbstractAppender("count-replacements", null, null, true,
        Array.empty[Property]) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          n.incrementAndGet()
    }
    counter.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(counter)
    try body finally { root.removeAppender(counter); counter.stop() }
    n.get
  }

  private def polyhashClass: Option[String] =
    spark.sessionState.functionRegistry.lookupFunction(FunctionIdentifier("polyhash"))
      .map(_.getClassName)

  test("register twice on a session that has the functions replaces none") {
    GraftFunctions.register(spark)
    assert(replacements { GraftFunctions.register(spark); GraftFunctions.register(spark) } === 0)
    assert(spark.sql("SELECT polyhash('ab')").collect()(0).getLong(0) === 97L * 131 + 98)
  }

  test("register replaces a foreign function of the same name") {
    GraftFunctions.register(spark)
    spark.udf.register("polyhash", (s: String) => -1L)
    assert(polyhashClass !== Some(classOf[PolyHash].getName))
    assert(replacements(GraftFunctions.register(spark)) === 1)
    assert(polyhashClass === Some(classOf[PolyHash].getName))
    assert(spark.sql("SELECT polyhash('ab')").collect()(0).getLong(0) === 97L * 131 + 98)
  }
}
