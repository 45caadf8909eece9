package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.GraftFunctions

/** `GraftFunctions.register` is called once per query builder, so it must
  * be a no-op on a session that already resolves every graft function —
  * re-registering logs one "replaced a previously registered function"
  * WARN per name per call and buries real warnings.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("register twice on one session replaces no function and logs no WARN") {
    val session = spark.newSession()
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try {
      GraftFunctions.register(session)
      GraftFunctions.register(session)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    val replaced = warnings.asScala.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    // and every function resolves afterwards
    Seq(GraftFunctions.CosineSimName, GraftFunctions.HashEmbedName,
      GraftFunctions.ChunkGenName, GraftFunctions.CharHistName,
      GraftFunctions.WinnowHashName, GraftFunctions.NfcNormalizeName,
      GraftFunctions.JaroWinklerName, GraftFunctions.TermBucketName).foreach { n =>
      assert(session.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
    }
    assert(session.sql("SELECT jaro_winkler('graft', 'graft')").head().getDouble(0) === 1.0)
  }
}
