package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** Counts plans whose whole-stage generated code is too large or fails to
  * compile, so they run through the interpreted operators instead. Spark
  * reports this only in its log: WholeStageCodegenExec says the stage was
  * disabled, after CodeGenerator has logged the compile error with its full
  * stack. This appender takes both loggers over. It counts the fallbacks and
  * prints each compile error as one line on stderr. */
object CodegenFallbacks {
  private val Compiler = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Stage = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private val n = new AtomicInteger

  def count: Int = n.get

  private def rootMessage(t: Throwable): String =
    if (t == null) "" else Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  def install(): Unit = {
    val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (e.getLoggerName == Stage && msg.contains("disabled")) n.incrementAndGet()
        else if (e.getLoggerName == Compiler && e.getLevel.isMoreSpecificThan(Level.ERROR))
          System.err.println(s"[perfbench] CodeGenerator: ${msg.trim} ${rootMessage(e.getThrown)}")
      }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration
    cfg.addAppender(appender)
    for ((name, level) <- Seq(Compiler -> Level.ERROR, Stage -> Level.INFO)) {
      val logger = new LoggerConfig(name, level, false)
      logger.addAppender(appender, level, null)
      cfg.addLogger(name, logger)
    }
    ctx.updateLoggers()
  }
}
