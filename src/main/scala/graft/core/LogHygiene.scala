package graft.core

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.filter.AbstractFilter

/** Log hygiene, installed by [[SessionSetup.session]] for every main:
  * the stdout tail of Bench and Verify is a parsed artifact, and a
  * familiar-looking stack trace in it can hide a real failure.
  *
  * Two moves, installed on the log4j2 root logger:
  *
  *  1. DENY the one known-benign ERROR: `DAGScheduler: Failed to update
  *     accumulator N (Unknown class) for task M`
  *     (`accessNonExistentAccumulatorError`). It fires AFTER a query
  *     succeeds, when a task killed by an early-exit job (`take(1)` /
  *     `isEmpty` probes, AQE stage cancellation) reports SQL-metric
  *     accumulators whose owning QueryExecution was already GC'd and
  *     weak-ref-unregistered from AccumulatorContext. The job's result
  *     is long since returned — the update has nowhere to land and
  *     nothing to affect.
  *  2. COUNT every other ERROR-level event (appender threshold ERROR,
  *     after the deny filter) so the caller can surface
  *     `"log_errors": N` + the first message in its artifact — a real
  *     executor/scheduler error becomes loud machine-readable signal
  *     instead of log spam the artifact parser skips over.
  */
object LogHygiene {
  private val errors = new java.util.concurrent.atomic.AtomicLong
  private val firstRef = new java.util.concurrent.atomic.AtomicReference[String]
  @volatile private var installed = false

  private def isKnownNoise(e: LogEvent): Boolean = {
    // require the "(Unknown class)" marker too: a failed update on a
    // LIVE user/SQL accumulator is a real error and must stay counted —
    // only the GC'd-QueryExecution case is benign
    val msg = String.valueOf(e.getMessage.getFormattedMessage)
    e.getLoggerName != null && e.getLoggerName.endsWith("DAGScheduler") &&
      msg.contains("Failed to update accumulator") &&
      msg.contains("(Unknown class)")
  }

  /** Idempotent; call after SparkSession creation (log4j2 must be
    * initialized so the root LoggerConfig exists). */
  def install(): Unit = synchronized {
    if (installed) return
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val root = cfg.getRootLogger
    root.addFilter(new AbstractFilter() {
      override def filter(event: LogEvent): Filter.Result =
        if (isKnownNoise(event)) Filter.Result.DENY else Filter.Result.NEUTRAL
    })
    val guard = new AbstractAppender(
        "graft-log-guard", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getLevel.isMoreSpecificThan(Level.ERROR)) {
          errors.incrementAndGet()
          firstRef.compareAndSet(null, event.getLoggerName + ": " +
            String.valueOf(event.getMessage.getFormattedMessage).take(300))
        }
    }
    guard.start()
    root.addAppender(guard, Level.ERROR, null)
    ctx.updateLoggers()
    installed = true
  }

  def errorCount: Long = errors.get()
  def firstError: Option[String] = Option(firstRef.get())
}
