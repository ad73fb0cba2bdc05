package graft

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The dev CLI: time, A/B, explain and profile `SparkEntry.queries` on
  * the measurement session (`core.Measure`), so its plans and timings are
  * the ones Bench and Verify see. `<qs>` is a comma-separated query list.
  *
  * {{{
  * runMain graft.Dev time <sfDir> <qs> [n]          warm once, then n timed passes (default 2)
  * runMain graft.Dev ab <sfDir> <qs> <key=valB> [rounds]   interleaved A/B of a runtime conf
  * runMain graft.Dev explain <sfDir> <qs> [mode]    the plan before execution (default formatted)
  * runMain graft.Dev explain-final <sfDir> <qs>     the final (post-AQE) plan, after one run
  * runMain graft.Dev profile <sfDir> <qs>           job and stage table of one warm run
  * }}}
  *
  * `SPARK_GRAFT_CPUS` sets local[N] and the shuffle partitions (default
  * 4, as in Bench and Verify). `SPARK_GRAFT_CONF="k1=v1;k2=v2"` adds
  * confs to the builder, so static confs apply too. */
object Dev {

  private val commands = Set("time", "ab", "explain", "explain-final",
    "profile")

  def main(args: Array[String]): Unit = {
    if (args.length < 3 || !commands.contains(args(0)) ||
        (args(0) == "ab" && args.length < 4)) {
      System.err.println(
        s"usage: graft.Dev <${commands.mkString("|")}> <sfDir> <qs> [...]")
      sys.exit(2)
    }
    val b = core.Measure.builder(core.Measure.cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(confPairs(_).foreach {
      case (k, v) => b.config(k, v)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** `SPARK_GRAFT_CONF` entries, ';'-separated so values may contain
    * commas (excludedRules lists); ',' separates only when there is no
    * ';'. Entries without '=' or with an empty key are skipped. */
  private[graft] def confPairs(s: String): Seq[(String, String)] = {
    val sep: Char = if (s.contains(';')) ';' else ','
    s.split(sep).toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }
  }

  /** Runs one subcommand (`args` as for [[main]]) on `spark`. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(1)
    val names = args(2).split(",").toSeq
    args(0) match {
      case "time" =>
        time(spark, sfDir, names, args.lift(3).fold(2)(_.toInt))
      case "ab" =>
        val Array(key, vB) = args(3).split("=", 2)
        ab(spark, sfDir, names, key, vB, args.lift(4).fold(3)(_.toInt))
      case "explain" =>
        explain(spark, sfDir, names, args.lift(3).getOrElse("formatted"))
      case "explain-final" => explainFinal(spark, sfDir, names)
      case "profile" => profile(spark, sfDir, names)
    }
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String],
           n: Int): Unit = names.foreach { q =>
    val fn = SparkEntry.queries(q)
    val rows = fn(spark, sfDir).count() // warm
    val ts = Seq.fill(n)(seconds(fn(spark, sfDir).count()))
    println(f"TIMING $q%s min=${ts.min}%.2f max=${ts.max}%.2f rows=$rows%d")
  }

  /** Load-robust A/B of a runtime SQL conf: within one JVM (shared JIT
    * and codegen cache) each query alternates arm A (the conf as it was)
    * and arm B (`key=vB`) for `rounds` rounds, so a load ramp hits both
    * arms alike. Arm A is restored with getOption + unset: a conf with no
    * default (spark.sql.optimizer.excludedRules) throws on get, and
    * set() to its old value differs from never set. */
  def ab(spark: SparkSession, sfDir: String, names: Seq[String],
         key: String, vB: String, rounds: Int): Unit = {
    val vA = spark.conf.getOption(key)
    def setA(): Unit = vA match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    names.foreach { q =>
      val fn = SparkEntry.queries(q)
      def sample(): Double = seconds(fn(spark, sfDir).count())
      sample() // warm arm A
      spark.conf.set(key, vB)
      sample() // warm arm B's plan shape too
      val (as, bs) = (Array.fill(rounds)(0.0), Array.fill(rounds)(0.0))
      try (0 until rounds).foreach { i =>
        setA(); as(i) = sample()
        spark.conf.set(key, vB); bs(i) = sample()
      } finally setA()
      println(f"AB $q%-24s A(min=${as.min}%.2f med=${as.sorted.apply(rounds / 2)}%.2f) " +
        f"B(min=${bs.min}%.2f med=${bs.sorted.apply(rounds / 2)}%.2f)  " +
        f"B/A=${bs.min / as.min}%.2f")
    }
  }

  /** The plan before execution: pushdown (PushedFilters/ReadSchema),
    * codegen spans and join strategies, with the graft rules applied. */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String],
              mode: String): Unit = names.foreach { q =>
    println(s"===== $q =====")
    SparkEntry.queries(q)(spark, sfDir).explain(mode)
  }

  /** The final (post-AQE) plan: AQE's runtime rewrites (join strategy
    * switches, partition coalescing, skew splits) exist only after the
    * run, so the Dataset's own QueryExecution runs via collect() (count()
    * would plan a new one) and is printed after. */
  def explainFinal(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Unit = names.foreach { q =>
    println(s"===== $q =====")
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.collect()
    df.explain("formatted")
  }

  private case class St(name: String, submitted: Long, completed: Long,
                        taskTimeMs: Long, gcMs: Long, shufRead: Long,
                        shufWrite: Long, inRows: Long, outRows: Long,
                        tasks: Int)

  /** Where one warm run's time goes: each job's start offset and length,
    * then the 14 longest stages with task-time sum, GC, shuffle bytes and
    * rows. A query spread over many short jobs is scheduling-bound, not
    * compute-bound. */
  def profile(spark: SparkSession, sfDir: String,
              names: Seq[String]): Unit = names.foreach { q =>
    val fn = SparkEntry.queries(q)
    fn(spark, sfDir).count() // warm: JIT + codegen + page cache
    ListenerDrain(spark.sparkContext) // no warm-run event reaches the listener
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val jobStart = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += St(si.name.takeWhile(_ != '\n').take(90),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
          si.numTasks)
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = js.time
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs += ((je.jobId, jobStart.getOrElse(je.jobId, 0L), je.time))
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = seconds(fn(spark, sfDir).count())
    // Spark posts a job's events before the action returns; the drain
    // delivers them all and orders the listener's writes before the
    // reads below
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    println(f"===== $q%s wall=$wall%.2fs jobs=${jobs.size}%d " +
      f"stages=${stages.size}%d =====")
    val j0 = jobs.map(_._2).minOption.getOrElse(0L)
    jobs.sortBy(_._1).foreach { case (id, s, e) =>
      println(f"  job $id%3d  +${(s - j0) / 1000.0}%6.2fs  " +
        f"len=${(e - s) / 1000.0}%6.2fs")
    }
    stages.sortBy(s => -(s.completed - s.submitted)).take(14).foreach { s =>
      println(f"  stage wall=${(s.completed - s.submitted) / 1000.0}%6.2fs " +
        f"taskSum=${s.taskTimeMs / 1000.0}%6.2fs gc=${s.gcMs / 1000.0}%5.2fs " +
        f"tasks=${s.tasks}%3d " +
        f"sr=${s.shufRead / 1024}%8dKB sw=${s.shufWrite / 1024}%8dKB " +
        f"rows(in=${s.inRows}%d,out=${s.outRows}%d) ${s.name}%s")
    }
  }
}
