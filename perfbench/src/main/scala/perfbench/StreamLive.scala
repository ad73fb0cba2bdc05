package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.streaming.Topology

/** `stream_live`: `Topology.runStream` of GopherGateOp -> DedupOp
  * (streaming, first occurrence emitted at once) -> parquet sink, fed by
  * the open-loop generator process (gen.py feed) with JSON-lines files:
  * a cold-start file, a warm-up phase, then a fixed `low` rate, then a
  * fixed `high` rate.
  *
  * An event's latency is the end of the micro-batch whose sink commit
  * lists the event's file, minus the event's scheduled creation time.
  * After the stream drains, an untimed `runBatch` of the same YAML over
  * the same files must keep exactly the same set of contents. */
object StreamLive {
  val ColdSeconds = 0.5
  val WarmSeconds = 3.0
  val Lateness = "10 minutes"

  def yaml(input: String, output: String, cpus: Int): String =
    s"""shuffle_partitions: $cpus
       |topics:
       |  - name: docs
       |    kind: json
       |    path: $input
       |    schema: "${TopoBatch.Schema}"
       |  - name: gated
       |    kind: memory
       |  - name: kept
       |    kind: parquet
       |    path: $output
       |operators:
       |  gate:
       |    factory: graft.streaming.ops.GopherGateOp
       |    sources: [docs]
       |    sinks: [gated]
       |  dedup:
       |    factory: graft.streaming.ops.DedupOp
       |    sources: [gated]
       |    sinks: [kept]
       |    config:
       |      dedup_ts: ts
       |      dedup_lateness: $Lateness
       |""".stripMargin

  final case class Batch(id: Long, startMs: Double, endMs: Double,
                         rows: Long, ev: QueryProgressEvent)

  /** Files committed by each sink batch, from the sink's metadata log
    * (a compacted entry lists every file up to its batch). */
  def filesByBatch(output: String): Map[Long, Set[String]] = {
    val dir = new java.io.File(s"$output/_spark_metadata")
    val logs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .map(f => f.getName.stripSuffix(".compact").toLong -> f)
      .sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    logs.map { case (id, f) =>
      val paths = java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.startsWith("{"))
        .map(l => """"path":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1))
        .map(p => new java.io.File(new java.net.URI(p)).getName)
        .filterNot(seen).toSet
      seen ++= paths
      id -> paths
    }.toMap
  }

  def run(spark: SparkSession, work: String, base: String, cpus: Int,
          seed: Long, seconds: Double, rates: (Double, Double),
          limitMs: Double, tracer: Tracer, res: Result): Unit = {
    val input = s"$work/in"
    val output = s"$work/kept"
    new java.io.File(input).mkdirs()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val counters =
      if (tracer.enabled) Some(new SparkCounters(spark).attach()) else None
    val jvm = new JvmMeter
    val text = yaml(input, output, cpus)
    val t0 = tracer.nowMs
    val queries = tracer.span("stream", "run") {
      val topo = tracer.span("topology.parse", "run") { Topology.parse(text) }
      val qs = tracer.span("topology.start", "run") {
        topo.runStream(spark, s"$work/ckpt")
      }
      val (low, high) = rates
      val lowS = math.round(seconds * 0.4).toDouble
      val highS = seconds - lowS
      val spec = Seq(("cold", low, ColdSeconds), ("warm", low, WarmSeconds),
        ("low", low, lowS),
        ("high", high, highS)).map(p => s"${p._1}:${p._2}:${p._3}")
        .mkString(",")
      def feed(only: String, log: Seq[String]): Unit = {
        val p = new ProcessBuilder((Seq("python3", s"$base/perfbench/gen.py",
          "feed", "--seed", seed.toString, "--dir", input,
          "--phases", spec, "--only", only) ++ log)
          .asJava).inheritIO().start()
        val code = try p.waitFor() finally p.destroy()
        require(code == 0, s"feeder exited with $code")
      }
      // warm-up: the first micro-batches (JIT, codegen, state-store
      // creation) run before the open-loop schedule starts, so a slow
      // cold start cannot leave a backlog in the timed phases. The cold
      // first batch (seconds long) takes one small file on its own, so
      // the warm-up phase then runs as several short batches; with one
      // cold batch swallowing the warm-up, the timed batches were still
      // getting faster
      tracer.span("warm", "run") {
        feed("cold", Seq("--log", s"$work/cold.json"))
        qs.foreach(_.processAllAvailable())
        feed("warm", Seq("--log", s"$work/warm.json"))
        qs.foreach(_.processAllAvailable())
      }
      // the timed phases: the same schedule, its clock started by the
      // feeder once the schedule is built
      tracer.span("feed", "run") {
        feed("low,high", Seq("--log", s"$work/feed.json"))
      }
      tracer.span("drain", "run") { qs.foreach(_.processAllAvailable()) }
      qs
    }
    tracer.span("stop", "run") { queries.foreach(_.stop()) }
    val window = (t0, tracer.nowMs)
    val wallMs = window._2 - t0
    Listeners.drain(spark)
    counters.foreach(_.detach())
    spark.streams.removeListener(progress)

    // ---- the feed's schedule and the sink's commits
    val feed = FeedLog.read(s"$work/feed.json")
    // set-up ends when the first event of the timed phases is due, less
    // the time the feeder spent building its schedules (input generation)
    val genMs = feed.buildMs + Seq("cold", "warm").map(p =>
      FeedLog.read(s"$work/$p.json").buildMs).sum
    res.firstOpMs =
      feed.events.filter(_.phase == "low").map(_.dueMs).min - genMs
    res.layers("gen.input_s") = genMs / 1e3
    val batches = progress.events.synchronized(progress.events.toVector)
      .map { e =>
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val trigger = Option(p.durationMs.get("triggerExecution"))
          .map(_.toDouble).getOrElse(0.0)
        Batch(p.batchId, start, start + trigger, p.numInputRows, e)
      }.sortBy(_.id)
    val endOf = batches.map(b => b.id -> b.endMs).toMap
    val fileBatch = filesByBatch(output).toSeq
      .flatMap { case (b, fs) => fs.map(_ -> b) }.toMap
    val kept = spark.read.parquet(output)
      .select(col("doc_id"), sha2(col("text"), 256), input_file_name())
      .collect()
    val due = feed.events.map(e => e.id -> e).toMap
    // a kept row stands for its content: when an original and its copy
    // share a micro-batch, the dedup may keep either, so latency counts
    // from the content's first due event
    val firstOf = feed.events.groupBy(_.origin)
      .map { case (o, es) => o -> es.minBy(_.dueMs) }

    // ---- correctness: same content set as a batch run over the files
    tracer.span("check", "run") {
      Topology.parse(text).runBatch(spark, s"$work/batch")
    }
    // contents compared by their SHA-256, so no text reaches the driver
    val batchTexts = spark.read.parquet(s"$work/batch/kept")
      .select(sha2(col("text"), 256)).collect().map(_.getString(0))
    val streamTexts = kept.map(_.getString(1))
    val sSet = streamTexts.toSet; val bSet = batchTexts.toSet
    val dup = streamTexts.length - sSet.size
    val missing = (bSet -- sSet).size
    val extra = (sSet -- bSet).size
    res.attempted += feed.events.size
    if (dup + missing + extra > 0) res.fail(dup + missing + extra,
      s"stream_live: $missing missing, $extra extra, $dup duplicated " +
        "kept contents against runBatch")

    // ---- latency of every kept event, by phase
    val emitted: Seq[(FeedLog.Event, Double)] = kept.toSeq.flatMap { r =>
      val file = new java.io.File(new java.net.URI(r.getString(2))).getName
      for {
        b <- fileBatch.get(file)
        end <- endOf.get(b)
        e <- due.get(r.getLong(0))
      } yield (firstOf(e.origin), end)
    }
    val lat = emitted.map { case (e, end) => (e.phase, end - e.dueMs) }
    val unplaced = kept.length - lat.length
    if (unplaced > 0)
      res.fail(unplaced, s"$unplaced kept rows with no committing batch")
    def latOf(phase: String) = lat.filter(_._1 == phase).map(_._2).toSeq

    // ---- open-loop health per phase: latency limit and lag growth
    val phaseWin = feed.events.groupBy(_.phase).map { case (p, es) =>
      p -> (es.map(_.dueMs).min, es.map(_.dueMs).max, es.size) }
    val dues = feed.events.map(_.dueMs).sorted.toArray
    def offered(t: Double): Long = { // events due at or before t
      var lo = 0; var hi = dues.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dues(mid) <= t) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    // (batch end, events offered but not yet taken in, taken in so far)
    val taken = batches.scanLeft(0L)(_ + _.rows).tail
    val lag = batches.zip(taken).map { case (b, n) =>
      (b.endMs, (offered(b.endMs) - n).toDouble, n) }
    // A phase is sustained when its p99 meets the limit. The file source
    // takes in everything listed at each trigger, so a stream that falls
    // behind runs ever larger and longer micro-batches: its lag grows as
    // its latency does, and the p99 limit catches both. The lag slope,
    // sampled once per micro-batch, is too noisy over a few seconds to
    // gate on; the traced run reports it (source.lag_slope).
    def phaseStats(p: String): (Double, Double, Double, Boolean) = {
      val (s, e, n) = phaseWin(p)
      val l = latOf(p)
      val p99 = Stats.quantile(l, 0.99)
      // the first batch end by which every event of the phase was taken in
      val caught = lag.collectFirst {
        case (t, _, k) if t >= e && k >= offered(e) => t }.getOrElse(e)
      val delivered = n * 1000.0 / math.max(caught - s, 1.0)
      (Stats.median(l), p99, delivered, p99 <= limitMs)
    }

    val (lo50, lo99, loEps, loOk) = phaseStats("low")
    val (hi50, hi99, hiEps, hiOk) = phaseStats("high")
    val allTimed = latOf("low") ++ latOf("high")
    val (firstDue, _, _) = phaseWin("low")
    val lastEmission = emitted.map(_._2).max
    res.e2e("wall_s") = (lastEmission - firstDue) / 1e3
    // over every timed event: the low phase alone has ~10 micro-batches
    // and its median moves with their phase against the schedule
    // (stream.lat_p50_ms.low keeps it)
    res.e2e("p50_ms") = Stats.median(allTimed)
    res.e2e("tail_ms") = Stats.tailMean(allTimed, 0.9)
    res.e2e("ops_per_s") =
      if (hiOk) hiEps else if (loOk) loEps else 0.0
    val l = res.layers
    l("stream.lat_p50_ms.low") = lo50
    l("stream.lat_p99_ms.low") = lo99
    l("stream.lat_p50_ms.high") = hi50
    l("stream.lat_p99_ms.high") = hi99
    l("samples") = allTimed.size.toDouble

    if (tracer.enabled) {
      val timed = batches.filter(_.endMs >= firstDue)
      def dur(b: Batch, k: String) = Option(b.ev.progress.durationMs.get(k))
        .map(_.toDouble).getOrElse(0.0)
      val nonEmpty = timed.filter(_.rows > 0)
      l("mb.batches") = timed.size.toDouble
      l("mb.empty_frac") =
        if (timed.isEmpty) 0.0 else 1.0 - nonEmpty.size.toDouble / timed.size
      val trig = timed.map(dur(_, "triggerExecution"))
      l("mb.trigger_ms.p50") = Stats.median(trig)
      l("mb.trigger_ms.p99") = Stats.quantile(trig, 0.99)
      l("mb.latest_offset_ms") = Stats.mean(nonEmpty.map(dur(_, "latestOffset")))
      l("mb.query_planning_ms") =
        Stats.mean(nonEmpty.map(dur(_, "queryPlanning")))
      l("mb.add_batch_ms") = Stats.mean(nonEmpty.map(dur(_, "addBatch")))
      l("mb.wal_commit_ms") = Stats.mean(nonEmpty.map(dur(_, "walCommit")))
      l("mb.commit_offsets_ms") =
        Stats.mean(nonEmpty.map(dur(_, "commitOffsets")))
      l("mb.rows_per_batch") = Stats.mean(nonEmpty.map(_.rows.toDouble))
      val st = timed.flatMap(_.ev.progress.stateOperators.toSeq)
      l("state.rows_total") =
        timed.lastOption.map(_.ev.progress.stateOperators.map(_.numRowsTotal)
          .sum.toDouble).getOrElse(0.0)
      l("state.memory_bytes") = timed.map(_.ev.progress.stateOperators
        .map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0)
      l("state.commit_ms") = Stats.mean(nonEmpty.map(
        _.ev.progress.stateOperators.map(_.commitTimeMs).sum.toDouble))
      l("state.rows_dropped_late") =
        st.map(_.numRowsDroppedByWatermark).sum.toDouble
      l("source.lag_rows") = lag.collect {
        case (t, v, _) if t >= firstDue => v }.maxOption.getOrElse(0.0)
      val (hs, he, _) = phaseWin("high")
      l("source.lag_slope") = Stats.slope(lag.collect {
        case (t, v, _) if t >= hs && t <= he => (t / 1e3, v) })
      l("sink.files") = fileBatch.size.toDouble
      l("gen.late_ms.p99") = Stats.quantile(feed.files.map(f =>
        f.visibleMs - f.dueMs), 0.99)
      l("topology.parse_ms") =
        tracer.all.filter(_.name == "topology.parse").map(_.dur).sum
      l("topology.start_ms") =
        tracer.all.filter(_.name == "topology.start").map(_.dur).sum
      l("jvm.gc_s") = jvm.gcSec
      l("jvm.heap_peak_mb") = jvm.heapPeakMb
      timed.foreach(b => tracer.attach("microbatch", b.id.toString,
        b.startMs, b.endMs))
      counters.foreach(c => Layers.spark(res, tracer, c, window))
      // tracing overhead on a stream: listener time against wall time
      counters.foreach(c =>
        l("trace.overhead_frac") = c.callbackNs / 1e6 / wallMs)
      TopoBatch.timeOps(spark, work, spark.read.schema(TopoBatch.Schema)
        .json(input), Seq("gopher", "dedup"), tracer, res)
    }
  }
}

/** The feeder's log: every scheduled event and every file it wrote. */
object FeedLog {
  /** `origin` is the id of the original for a copy, else the own id. */
  final case class Event(dueMs: Double, id: Long, kind: String, phase: String,
                         origin: Long)
  final case class FileW(name: String, dueMs: Double, visibleMs: Double)
  final case class Log(buildMs: Double, events: Seq[Event], files: Seq[FileW])

  def read(path: String): Log = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val ev = """\[(\d+), (\d+), "(\w+)", "(\w+)", (\d+)\]""".r
    val fl = """\["([^"]+)", (\d+(?:\.\d+)?), (\d+(?:\.\d+)?), \d+\]""".r
    val evStart = text.indexOf("\"events\"")
    val events = ev.findAllMatchIn(text.substring(evStart)).map(m =>
      Event(m.group(1).toDouble, m.group(2).toLong, m.group(3), m.group(4),
        m.group(5).toLong))
      .toSeq
    val files = fl.findAllMatchIn(text.substring(0, evStart)).map(m =>
      FileW(m.group(1), m.group(2).toDouble, m.group(3).toDouble)).toSeq
    val build = """"build_ms": (\d+(?:\.\d+)?)""".r
      .findFirstMatchIn(text).get.group(1).toDouble
    Log(build, events, files)
  }
}
