package perfbench

/** JVM side of the benchmark; run.py builds and launches it.
  *
  * {{{
  *   perfbench.Main --mode run|record|speedup --workload NAME --seed N
  *     --seconds S --trace 0|1 --base CHECKOUT --work DIR --out FILE
  *     --cpus N --rates LOW,HIGH --limit-ms MS
  * }}}
  *
  * Writes one JSON object to --out: attempted/failed counts, the epoch
  * ms of the first timed operation, end-to-end and per-layer metrics.
  * With --trace 1 the spans are written to DIR/spans.jsonl; a traced
  * topo_batch run also runs stream_live traced, in DIR/stream, and adds
  * its stream layers (spans in DIR/stream_spans.jsonl). */
object Main {
  /** Per-layer metrics that only a stream exercises. */
  val StreamLayers = Seq("stream.", "mb.", "state.", "source.", "sink.",
    "gen.", "topology.start_ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val base = a("base")
    val work = a("work")
    val cpus = a("cpus").toInt
    val mode = a.getOrElse("mode", "run")
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val res = new Result
    val tracer = new Tracer(trace, cpus)
    val data = s"$base/perfbench/data/sf0.01"
    val expected = s"$base/perfbench/expected/query_battery.json"
    val spark =
      if (workload == "query_battery") graft.core.Measure.session(cpus.toString)
      else {
        val s = graft.core.GraftSession.builder(master = s"local[$cpus]")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
    def stream(dir: String, t: Tracer, r: Result): Unit = {
      val Array(lo, hi) = a("rates").split(",").map(_.toDouble)
      StreamLive.run(spark, dir, base, cpus, a("seed").toLong,
        a("seconds").toDouble, (lo, hi), a("limit-ms").toDouble, t, r)
    }
    try mode match {
      case "record" => Battery.record(spark, data, expected)
      case "speedup" =>
        // single-threaded baseline for exec.speedup_1core
        TopoBatch.run(spark, work, cpus, 0.0, new Tracer(false), res,
          warmups = 1, minRuns = 2)
      case _ => workload match {
        case "query_battery" => Battery.run(spark, data, expected,
          a("seed").toLong, a("seconds").toDouble, tracer, res)
        case "topo_batch" =>
          TopoBatch.run(spark, work, cpus, a("seconds").toDouble, tracer, res)
          if (trace) {
            // the stream layers: stream_live is not a timed workload of
            // BENCHMARK.json (see README), so its traced run rides here
            val st = new Tracer(true, cpus)
            val sr = new Result
            try stream(s"$work/stream", st, sr)
            finally st.write(s"$work/stream_spans.jsonl")
            res.attempted += sr.attempted
            if (sr.failed > 0) res.fail(sr.failed, sr.problems.mkString("; "))
            sr.layers.foreach { case (k, v) =>
              if (StreamLayers.exists(k.startsWith)) res.layers(k) = v }
          }
        case "stream_live" => stream(work, tracer, res)
        case other => sys.error(s"unknown workload $other")
      }
    } catch { case t: Throwable =>
      res.fail(1, s"run threw: $t")
      t.printStackTrace()
    } finally {
      res.e2e("peak_rss_mb") = Rss.peakMb
      if (trace) tracer.write(s"$work/spans.jsonl")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
        res.json)
      spark.stop()
    }
  }
}
