package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

/** Process-wide counters read synchronously at span boundaries. */
object Counters {
  val names: Seq[String] = Seq("codegen_compiles", "codegen_fallbacks",
    "files_discovered", "listing_jobs",
    "fs_read_ops", "fs_write_ops", "fs_bytes_read", "fs_bytes_written")

  private val fallbacks = new AtomicLong

  def snapshot(): Array[Long] =
    Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, fallbacks.get,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount,
      CountingFs.reads.get, CountingFs.writes.get) ++ fsBytes()

  /** Hadoop FS statistics over every scheme: bytes read, bytes written. */
  @annotation.nowarn("cat=deprecation")
  def fsBytes(): Array[Long] = {
    val r = new Array[Long](2)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      r(0) += s.getBytesRead
      r(1) += s.getBytesWritten
    }
    r
  }

  /** Counts whole-stage codegen fallbacks: WholeStageCodegenExec logs
    * one line each time it gives up on a plan (compile failure at WARN,
    * a too-large method at INFO). Its logger is routed to this counter
    * only, so the lines are counted rather than printed. */
  def installFallbackCounter(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Whole-stage codegen disabled") ||
            m.contains("whole-stage codegen was disabled")) fallbacks.incrementAndGet()
      }
    }
    app.start()
    val name = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
  }
}
