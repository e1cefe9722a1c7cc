package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Fails a block whose queries fall back from generated code: Janino
  * rejecting a generated class (`CodeGenerator`: "Failed to compile the
  * generated Java code", e.g. a method past the 64 KB limit) or a stage
  * running interpreted instead (`WholeStageCodegenExec`: "Whole-stage
  * codegen disabled"). Spark logs both and carries on, so only the log
  * shows the slow path. An action over a pruned column (a bare `count()`)
  * never generates the expression: force the column through an aggregate. */
object CodegenGuard {
  private val signs = Seq("Failed to compile the generated Java code",
    "Whole-stage codegen disabled")

  def noFallback[T](body: => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-guard", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (signs.exists(msg.contains)) seen.add(s"${e.getLoggerName}: ${msg.take(200)}")
      }
    }
    appender.start()
    val loggers = Seq(classOf[CodeGenerator[_, _]], classOf[WholeStageCodegenExec])
      .map(c => LogManager.getLogger(c.getName).asInstanceOf[Logger])
    loggers.foreach(_.addAppender(appender))
    try {
      val out = body
      assert(seen.isEmpty, s"generated code fell back:\n${seen.asScala.mkString("\n")}")
      out
    } finally {
      loggers.foreach(_.removeAppender(appender))
      appender.stop()
    }
  }
}
