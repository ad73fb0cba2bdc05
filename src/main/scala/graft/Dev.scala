package graft

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.mutable

/** The dev CLI: time, A/B, explain and profile `SparkEntry.queries`, and
  * run the scale and streaming sweeps, on the measurement session
  * (`core.Measure`), so its plans and timings are the ones Bench and
  * Verify see. `<qs>` is a comma-separated query list.
  *
  * {{{
  * runMain graft.Dev time <sfDir> <qs> [n]          warm once, then n timed passes (default 2)
  * runMain graft.Dev ab <sfDir> <qs> <key=valB> [rounds]   interleaved A/B of a runtime conf
  * runMain graft.Dev explain <sfDir> <qs> [mode]    the plan before execution (default formatted)
  * runMain graft.Dev explain-final <sfDir> <qs>     the final (post-AQE) plan, after one run
  * runMain graft.Dev profile <sfDir> <qs>           job and stage table of one warm run
  * runMain graft.Dev scale <sfDir> <factor> <out>   scale tier: sfDir vs its derived factor-x corpus
  * runMain graft.Dev stream <scaledDir> <out>       streaming tier over a derived corpus
  * }}}
  *
  * `SPARK_GRAFT_CPUS` sets local[N] and the shuffle partitions (default
  * 4, as in Bench and Verify). `SPARK_GRAFT_CONF="k1=v1;k2=v2"` adds
  * confs to the builder, so static confs apply too. */
object Dev {

  /** Each subcommand with its least argument count, itself included. */
  private val arity = Map("time" -> 3, "ab" -> 4, "explain" -> 3,
    "explain-final" -> 3, "profile" -> 3, "scale" -> 4, "stream" -> 3)

  def main(args: Array[String]): Unit = {
    if (!args.headOption.flatMap(arity.get).exists(args.length >= _)) {
      System.err.println("usage: graft.Dev " +
        "<time|ab|explain|explain-final|profile> <sfDir> <qs> [...] | " +
        "scale <sfDir> <factor> <out> | stream <scaledDir> <out>")
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
      case "scale" => scale(spark, sfDir, args(2).toInt, args(3))
      case "stream" => stream(spark, sfDir, args(2))
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

  /** The measured scale tier (see [[ScaleSweep]]): derives the
    * `factor`x corpus of `baseDir`, times `queries` on both corpora by
    * Bench's protocol ([[Bench.Timer]], one wait `budget` for the run),
    * and writes each query's seconds per tier, ratio, scaling exponent
    * and verdict to `out`. A query that throws on either tier records
    * -1 and verdict FAILED instead of killing the run (the finished
    * corpus and small tier are kept; ScaleOutSpec rejects the row). */
  def scale(spark: SparkSession, baseDir: String, factor: Int, out: String,
            queries: Seq[String] = ScaleSweep.SweepQueries,
            budget: core.Measure.WaitBudget =
              new core.Measure.WaitBudget(300000L)): Unit = {
    require(factor >= 2 && factor <= 125,
      s"replication factor 2..125 (permFor distinctness), got $factor")
    val scaledDir = ScaleSweep.scaledDirFor(baseDir, factor)
    ScaleSweep.generate(spark, baseDir, scaledDir, factor)
    queries.foreach(n => // untimed warmup (JIT), as in Bench
      try SparkEntry.queries(n)(spark, baseDir).count()
      catch { case e: Throwable => System.err.println(s"warmup $n: $e") })
    def tier(dir: String): Map[String, Double] = {
      val timer = new Bench.Timer(spark, dir, budget)
      val samples = timer.sweep(queries)
      timer.failures.foreach { case (n, m) =>
        System.err.println(s"scale: $n FAILED at $dir: $m") }
      queries.map(n => n -> (if (timer.failures.contains(n)) -1.0
        else samples(n).min)).toMap
    }
    // the quiet-box gate before each tier: corpus generation ramps the
    // 1-min load average, and an inflated small tier COMPRESSES every
    // ratio (the first committed run measured q_hits at 0.86x)
    core.Measure.awaitQuietBox(budget)
    val loadBefore = core.Measure.loadAvg
    val small = tier(baseDir)
    core.Measure.awaitQuietBox(budget)
    val big = tier(scaledDir)
    val loadAfter = core.Measure.loadAvg
    val bar = ScaleSweep.ratioBar(factor)
    val ok = queries.filter(n => small(n) > 0 && big(n) > 0)
    val rows = queries.map { n =>
      val r = if (ok.contains(n)) big(n) / small(n) else -1.0
      val note =
        if (r < 0) "FAILED" else if (r > bar) "SUPER-LINEAR" else "ok"
      if (note != "ok") System.err.println(
        f"scale: $note $n ${small(n)}%.2fs -> ${big(n)}%.2fs ($r%.1fx)")
      val exp = if (r < 0) -1.0 else math.log(r) / math.log(factor)
      f""""$n":{"sf01_sec":${small(n)}%.3f,"sf1_sec":${big(n)}%.3f,"ratio":$r%.2f,"exponent":$exp%.3f,"verdict":"$note"}"""
    }
    val worst = ok.map(n => big(n) / small(n)).maxOption.getOrElse(-1.0)
    core.Measure.writeArtifact(out,
      s"""{"metric":"scale_ratio_worst","value":$worst,""" +
        s""""unit":"x per ${factor}x data","factor":$factor,""" +
        s""""ratio_bar":$bar,"load_before":$loadBefore,""" +
        s""""load_after":$loadAfter,"queries":{${rows.mkString(",")}},""" +
        s""""base":${core.Measure.jsonString(baseDir)},""" +
        s""""scaled":${core.Measure.jsonString(scaledDir)}}""")
  }

  /** The measured streaming tier: four YAML topologies run through the
    * real `Topology.runStream` path (file-stream micro-batches ->
    * operator -> checkpointed parquet sink, nothing mocked) over the
    * events and documents of a derived corpus (`scale`'s cache dir,
    * 10x in the committed `stream_out.json`), writing rows, seconds and
    * rows/s per topology to `out`:
    *
    *  - `map_stateless`: Multiply, the micro-batch pipeline floor
    *    (source listing, codegen map, sink commit);
    *  - `windowed_sketch`: CountMinOp, watermarked windowed aggregation
    *    with mergeable sketch state;
    *  - `stateful_neardup`: NearDupOp (verify) in the shipped
    *    examples/neardup_topology.yaml tuning (`shuffle_partitions: 8`,
    *    `max_per_trigger: 16`);
    *  - `stateful_neardup_conservative`: the same op at
    *    `max_per_trigger: 2` and the session's partitions. The gap to
    *    the shipped row is the per-batch state-commit overhead;
    *    MeasuredTierSpec fails if it vanishes.
    *
    * A row's time spans runStream() through processAllAvailable():
    * wiring, every micro-batch and the sink commits. Each row is the
    * min of two full sweeps (streaming rows swing ~1.5x run to run),
    * both samples stamped, each after the quiet-box gate. */
  def stream(spark: SparkSession, scaledDir: String, out: String,
             budget: core.Measure.WaitBudget =
               new core.Measure.WaitBudget(300000L)): Unit = {
    require(new java.io.File(s"$scaledDir/events.parquet").exists,
      s"no scaled corpus at $scaledDir — run graft.Dev scale first")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val work = java.nio.file.Files
      .createTempDirectory("graft_stream_sweep").toString
    // re-sprayed into 16 files so max_per_trigger sets the micro-batch
    // count (the scaled table's file count is a write-config accident)
    def fixture(name: String, df: DataFrame): Long = {
      df.repartition(16).write.mode("overwrite").parquet(s"$work/$name")
      spark.read.parquet(s"$work/$name").count()
    }
    val evRows = fixture("events",
      spark.read.parquet(s"$scaledDir/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value"))
    val docRows = fixture("docs", // event time for the stateful windows
      spark.read.parquet(s"$scaledDir/documents.parquet").select(
        col("doc_id"), col("text"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts")))
    // one parquet source -> one operator -> one parquet sink `sink`
    def yaml(source: String, perTrigger: Int, windowed: Boolean,
             factory: String, config: String, head: String = "")
            (sink: String): String = {
      val watermark =
        if (windowed) "\n    timestamp_col: ts\n    watermark: 1 hour" else ""
      s"""${head}topics:
         |  - name: in
         |    kind: parquet
         |    path: $work/$source
         |    max_per_trigger: $perTrigger$watermark
         |  - name: $sink
         |    kind: parquet
         |    path: $work/$sink
         |    sink_partitions: 4
         |operators:
         |  op:
         |    factory: graft.streaming.ops.$factory
         |    sources: [in]
         |    sinks: [$sink]
         |    config: $config
         |""".stripMargin
    }
    val topologies: Seq[(String, Long, String => String)] = Seq(
      ("map_stateless", evRows, yaml("events", 2, windowed = false,
        "Multiply", "{multiply: 2}")),
      ("windowed_sketch", evRows, yaml("events", 2, windowed = true,
        "CountMinOp",
        "{window: 1 hour, item_col: event_type, depth: 4, width: 1024}")),
      ("stateful_neardup", docRows, yaml("docs", 16, windowed = true,
        "NearDupOp", "{verify: true}", head = "shuffle_partitions: 8\n")),
      ("stateful_neardup_conservative", docRows, yaml("docs", 2,
        windowed = true, "NearDupOp", "{verify: true}")))
    // Sink and checkpoint paths carry a per-run suffix: a streaming query
    // must never resume another run's checkpoint. The topology-level
    // shuffle_partitions is session-scoped, so it is reset before every
    // run lest a tuned row leak its partitioning into the next.
    def timed(name: String, yamlFor: String => String, sfx: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      seconds {
        val started = graft.streaming.Topology
          .parse(yamlFor(s"out_$name$sfx"))
          .runStream(spark, s"$work/ckpt_$name$sfx")
        try started.foreach(_.processAllAvailable())
        finally started.foreach(_.stop())
      }
    }
    // untimed warmup: first-touch JIT/codegen of the micro-batch machinery
    // (source listing, commit log, parquet sink) would otherwise land on
    // the first timed row; each op's own codegen stays inside its row
    timed("map_stateless", topologies.head._3, "_warmup")
    val loadBefore = core.Measure.loadAvg
    val sweeps = Seq("_a0", "_a1").map(sfx => topologies.map {
      case (name, _, yamlFor) =>
        core.Measure.awaitQuietBox(budget)
        name -> timed(name, yamlFor, sfx)
    }.toMap)
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    val loadAfter = core.Measure.loadAvg
    val cells = topologies.map { case (name, rows, _) =>
      val samples = sweeps.map(_(name))
      val best = samples.min
      System.err.println(f"stream $name: min $best%.1fs of " +
        samples.map(x => f"$x%.1f").mkString("[", ", ", "]") +
        f" = ${rows / best}%.0f rows/s")
      (f""""$name":{"rows":$rows,"sec":$best%.2f,""" +
        f""""rows_per_sec":${rows / best}%.0f,""" +
        samples.map(x => f"$x%.2f").mkString("\"samples_sec\":[", ",", "]}"),
        best)
    }
    core.Measure.writeArtifact(out,
      s"""{"metric":"stream_total_sec","value":${cells.map(_._2).sum},""" +
        s""""unit":"sec","load_before":$loadBefore,""" +
        s""""load_after":$loadAfter,${cells.map(_._1).mkString(",")},""" +
        s""""scaled":${core.Measure.jsonString(scaledDir)}}""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }
}
