package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured STREAMING throughput (round 13): the reference is a
  * streaming framework, so "matches-or-beats its single-node
  * throughput" deserves a streaming NUMBER, not only the batch bench.
  * This main drives three representative YAML topologies through the
  * REAL [[graft.streaming.Topology.runStream]] path (file-stream
  * micro-batches -> operator -> durable parquet sink, checkpointed —
  * the production shape, nothing mocked) over the [[ScaleSweep]] 10x
  * corpus and records end-to-end rows/second:
  *
  *  - `map_stateless`  — Multiply over 1M events: the micro-batch
  *    pipeline floor (source listing + codegen map + sink commit).
  *  - `windowed_sketch` — CountMinOp over 1M events: watermarked
  *    windowed aggregation with mergeable sketch state.
  *  - `stateful_neardup` — NearDupOp (verify mode) over 50k docs:
  *    the flagship stateful op (banded MinHash keyed state).
  *
  * Wall time spans runStream() through processAllAvailable() — wiring,
  * every micro-batch, and sink commits included (honest end-to-end
  * cost, not steady-state flattery). `max_per_trigger` forces multiple
  * micro-batches so per-batch overhead is in the measurement. Artifact
  * (stream_out.json): rows, seconds, rows_per_sec per topology.
  *
  * Usage: runMain graft.StreamSweep [scaled10xDir] [outJson] — run
  * after ScaleSweep has materialized the 10x corpus.
  */
object StreamSweep {

  def main(args: Array[String]): Unit = {
    val scaledDir = args.headOption.getOrElse(
      ScaleSweep.scaledDirFor("/root/testdata/sf0.1", 10))
    val outJson = args.lift(1).getOrElse("stream_out.json")
    require(new java.io.File(s"$scaledDir/events.parquet").exists,
      s"no scaled corpus at $scaledDir — run graft.ScaleSweep first")
    val cpus = core.Measure.cpus
    val spark = graft.core.Measure.session(cpus)

    val work = java.nio.file.Files
      .createTempDirectory("graft_stream_sweep").toString
    // events re-sprayed into 16 files so max_per_trigger: 2 yields 8
    // micro-batches (the scaled table's file count is a write-config
    // accident; the sweep's batch cadence shouldn't be)
    val ev = spark.read.parquet(s"$scaledDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.repartition(16).write.mode("overwrite").parquet(s"$work/events")
    val evRows = spark.read.parquet(s"$work/events").count()
    // docs need an event-time column for the stateful window ops
    val docs = spark.read.parquet(s"$scaledDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    docs.repartition(16).write.mode("overwrite").parquet(s"$work/docs")
    val docRows = spark.read.parquet(s"$work/docs").count()

    // quiet-box gate before every timed topology (shared core.Measure
    // protocol): the fixture writes above ramp the 1-min load average —
    // the exact generator's-load-shadow failure ScaleSweep documents
    val waitBudget = new graft.core.Measure.WaitBudget(300000L)
    def run(name: String, rows: Long, yaml: String,
            timed: Boolean = true): (String, Double) = {
      if (timed) graft.core.Measure.awaitQuietBox(waitBudget)
      val t0 = System.nanoTime()
      val queries = graft.streaming.Topology.parse(yaml)
        .runStream(spark, s"$work/ckpt_$name")
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      val sec = (System.nanoTime() - t0) / 1e9
      if (timed)
        System.err.println(f"stream $name: $rows rows in $sec%.1fs = " +
          f"${rows / sec}%.0f rows/s")
      (f""""$name":{"rows":$rows,"sec":$sec%.2f,""" +
        f""""rows_per_sec":${rows / sec}%.0f}""", sec)
    }

    // untimed warmup: one full streaming pass absorbs first-touch
    // JIT/codegen of the micro-batch machinery (source listing, commit
    // log, parquet sink), which would otherwise land entirely on the
    // FIRST timed topology and break cross-row comparability; each
    // op's own codegen still compiles inside its timed run (an honest
    // per-topology end-to-end number)
    run("warmup", evRows,
      s"""topics:
         |  - name: ev
         |    kind: parquet
         |    path: $work/events
         |    max_per_trigger: 2
         |  - name: out_warmup
         |    kind: parquet
         |    path: $work/out_warmup
         |    sink_partitions: 4
         |operators:
         |  multiply:
         |    factory: graft.streaming.ops.Multiply
         |    sources: [ev]
         |    sinks: [out_warmup]
         |config:
         |  multiply: 2
         |""".stripMargin, timed = false)

    val loadBefore = graft.core.Measure.loadAvg
    // min over TWO full sweeps (the Bench/ScaleSweep protocol):
    // streaming rows swing ~1.5x run-to-run with state-store/page-
    // cache I/O, so a single sample can under- or over-state a
    // topology by more than the effects being measured; two passes
    // put minutes between a row's samples, and the artifact carries
    // both samples beside the min. Sink/checkpoint paths carry the
    // attempt suffix — a streaming query must never resume another
    // attempt's checkpoint.
    val topologies: Seq[(String, Long, String => String)] = Seq(
      ("map_stateless", evRows, (sfx: String) =>
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/events
           |    max_per_trigger: 2
           |  - name: out_map$sfx
           |    kind: parquet
           |    path: $work/out_map$sfx
           |    sink_partitions: 4
           |operators:
           |  multiply:
           |    factory: graft.streaming.ops.Multiply
           |    sources: [ev]
           |    sinks: [out_map$sfx]
           |config:
           |  multiply: 2
           |""".stripMargin),
      ("windowed_sketch", evRows, (sfx: String) =>
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/events
           |    max_per_trigger: 2
           |    timestamp_col: ts
           |    watermark: 1 hour
           |  - name: out_cells$sfx
           |    kind: parquet
           |    path: $work/out_cells$sfx
           |    sink_partitions: 4
           |operators:
           |  sketch:
           |    factory: graft.streaming.ops.CountMinOp
           |    sources: [ev]
           |    sinks: [out_cells$sfx]
           |    config:
           |      window: 1 hour
           |      item_col: event_type
           |      depth: 4
           |      width: 1024
           |""".stripMargin),
      // the SHIPPED sample config (examples/neardup_topology.yaml):
      // shuffle_partitions: 8 + max_per_trigger: 16, the r14 measured
      // levers promoted to the default in r15 (neardup_profile.json
      // attributed ~94% of the conservative row to per-batch state
      // commits; novel-set parity across every measured cell). This row
      // is what a user actually gets.
      ("stateful_neardup", docRows, (sfx: String) =>
        s"""shuffle_partitions: 8
           |topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |    max_per_trigger: 16
           |    timestamp_col: ts
           |    watermark: 1 hour
           |  - name: out_novel$sfx
           |    kind: parquet
           |    path: $work/out_novel$sfx
           |    sink_partitions: 4
           |operators:
           |  neardup:
           |    factory: graft.streaming.ops.NearDupOp
           |    sources: [docs]
           |    sinks: [out_novel$sfx]
           |    config:
           |      verify: true
           |""".stripMargin),
      // the pre-r15 conservative config (many small batches, core-count
      // state partitions) kept as the attribution baseline: the gap
      // between this row and the default IS the per-batch state-commit
      // overhead the profile measured — a regenerated artifact where
      // the gap vanishes means the attribution story is stale.
      ("stateful_neardup_conservative", docRows, (sfx: String) =>
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |    max_per_trigger: 2
           |    timestamp_col: ts
           |    watermark: 1 hour
           |  - name: out_novel_cons$sfx
           |    kind: parquet
           |    path: $work/out_novel_cons$sfx
           |    sink_partitions: 4
           |operators:
           |  neardup:
           |    factory: graft.streaming.ops.NearDupOp
           |    sources: [docs]
           |    sinks: [out_novel_cons$sfx]
           |    config:
           |      verify: true
           |""".stripMargin))
    val sweeps: Seq[Map[String, Double]] = (0 to 1).map { attempt =>
      topologies.map { case (name, rows, yamlFor) =>
        // the shuffle_partitions knob is session-scoped by design:
        // reset to the measurement default before EVERY topology so a
        // tuned row can never leak its partitioning into the next row
        // (or the next sweep's) measurement
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
        val (_, sec) = run(s"${name}_a$attempt", rows, yamlFor(s"_a$attempt"))
        name -> sec
      }.toMap
    }
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    val results = topologies.map { case (name, rows, _) =>
      val (s1, s2) = (sweeps(0)(name), sweeps(1)(name))
      val best = math.min(s1, s2)
      System.err.println(f"stream $name: min $best%.1fs of " +
        f"[$s1%.1f, $s2%.1f] = ${rows / best}%.0f rows/s")
      (f""""$name":{"rows":$rows,"sec":$best%.2f,""" +
        f""""rows_per_sec":${rows / best}%.0f,""" +
        f""""samples_sec":[$s1%.2f,$s2%.2f]}""", best)
    }

    val loadAfter = graft.core.Measure.loadAvg
    val json = s"""{"metric":"stream_total_sec","value":${
      results.map(_._2).sum},"unit":"sec",""" +
      s""""load_before":$loadBefore,"load_after":$loadAfter,""" +
      results.map(_._1).mkString(",") + s""","scaled":"$scaledDir"}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
