package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.plans.NativeFunctions

/** A Column helper registers its native function only when the session
  * lacks it, so repeated helper calls never replace (and log over) a
  * function the session already has. */
class NativeFunctionsRegisterSpec extends SparkSpec {
  import spark.implicits._

  test("two calls of one native helper log no replaced function") {
    val logged = new ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("native-register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try {
      val df = Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b")
      val first = df.select(NativeFunctions.cosineNative(spark, $"a", $"b")).head().getDouble(0)
      val second = df.select(NativeFunctions.cosineNative(spark, $"a", $"b")).head().getDouble(0)
      assert(first == 1.0 && second == 1.0)
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
    val replaced = logged.asScala.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }
}
