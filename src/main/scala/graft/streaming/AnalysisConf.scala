package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session-conf overrides needed only while a streaming query is ANALYZED.
  *
  * Some factories must relax an analysis-time-only Spark check (e.g.
  * [[ops.NearDupOp]] and `spark.sql.streaming.statefulOperator.
  * checkCorrectness.enabled` — the check lives in
  * `UnsupportedOperationChecker.checkStreamingQueryGlobalWatermarkLimit`,
  * invoked solely by the `ResolveWriteToStream` analyzer rule, i.e. inside
  * `DataStreamWriter.start()`; it never re-runs per micro-batch). Setting
  * such a flag directly on the session would leak past the query it was
  * meant for: every later query in the same session would silently lose
  * the check. Factories record the override here instead; the topology
  * runner restores the user's values right after its queries start.
  * Programmatic users who call a factory and `start()` themselves should
  * call [[restoreAll]] once their queries have started.
  *
  * A relaxed check still runs: `UnsupportedOperationChecker` then logs
  * the AnalysisException it no longer throws, plan and stack trace
  * included (about 140 lines), at WARN on every start(). The topology
  * runner starts its queries inside [[whileStarting]], which logs one
  * line naming the relaxed checks instead.
  */
object AnalysisConf {

  private val saved =
    scala.collection.mutable.Map.empty[(SparkSession, String), Option[String]]

  /** Set `key` for the upcoming query analysis, remembering the user's
    * prior value (first write per (session, key) wins — repeated factory
    * applications must not capture their own override as "prior"). */
  def setForAnalysis(spark: SparkSession, key: String, value: String)
      : Unit = synchronized {
    if (!saved.contains((spark, key)))
      saved((spark, key)) = spark.conf.getOption(key)
    spark.conf.set(key, value)
  }

  private val checkerLogger =
    "org.apache.spark.sql.catalyst.analysis.UnsupportedOperationChecker"
  private var quieted = 0 // whileStarting calls in flight
  private var added = false // the checker logger config is ours

  /** Run `body` (the `start()` calls of queries analyzed under the
    * overrides recorded on `spark`) with Spark's checker logger raised
    * to ERROR, after one WARN line naming each relaxed check. With no
    * override recorded, `body` runs as is. */
  def whileStarting[T](spark: SparkSession)(body: => T): T = {
    val relaxed = synchronized {
      saved.keys.filter(_._1 eq spark).map(_._2).toSeq.sorted
    }
    if (relaxed.isEmpty) body
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "streaming queries start with relaxed analysis checks: " +
          relaxed.map(k => s"$k=${spark.conf.get(k)}").mkString(", ") +
          " (set by a topology operator; the checker's own warnings " +
          "are suppressed)")
      quiet(true)
      try body finally quiet(false)
    }
  }

  /** Give the checker logger a config of its own at ERROR on the first
    * of nested calls and drop it on the last (left in place, it would
    * pin the level past later root-level changes). A config the user
    * set up for that logger is left alone, as is a logging backend
    * other than log4j2. */
  private def quiet(on: Boolean): Unit = synchronized {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    quieted += (if (on) 1 else -1)
    org.apache.logging.log4j.LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val conf = ctx.getConfiguration
        if (on && quieted == 1 &&
            !conf.getLoggers.containsKey(checkerLogger)) {
          conf.addLogger(checkerLogger,
            new LoggerConfig(checkerLogger, Level.ERROR, true))
          added = true
          ctx.updateLoggers()
        } else if (!on && quieted == 0 && added) {
          conf.removeLogger(checkerLogger)
          added = false
          ctx.updateLoggers()
        }
      case _ =>
    }
  }

  /** Restore every recorded override on `spark` to its prior value. Call
    * after the streaming queries have STARTED (analysis is complete once
    * `start()` returns). */
  def restoreAll(spark: SparkSession): Unit = synchronized {
    saved.keys.filter(_._1 eq spark).toSeq.foreach { k =>
      saved.remove(k) match {
        case Some(Some(v)) => spark.conf.set(k._2, v)
        case Some(None)    => spark.conf.unset(k._2)
        case None          =>
      }
    }
  }
}
