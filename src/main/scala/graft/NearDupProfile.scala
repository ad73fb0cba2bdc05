package graft

import org.apache.spark.sql.functions._

/** Profiling main for the stateful streaming near-dup (r13 verdict
  * task 4): stream_out.json measured NearDupOp verify-mode at ~1.9k
  * docs/s — 50-120x below the other two topologies — and this main
  * attributes WHERE the time goes by running the identical topology
  * (StreamSweep's `stateful_neardup`, 50k docs off the 10x corpus)
  * across a measured matrix:
  *
  *  - state-store provider: default HDFSBacked vs RocksDB (both ship
  *    in this Spark build) — the verify-mode state is heavy
  *    (numHashes=128 longs per band key, ~1.6M band keys), so
  *    snapshot/commit behavior is the prime suspect;
  *  - micro-batch size: max_per_trigger 2 (8 batches — the committed
  *    measurement's cadence) vs 16 (1 batch) — isolates per-batch
  *    machinery (state commit per partition per batch, source listing,
  *    sink commit);
  *  - verify off at the baseline cadence — isolates the signature
  *    payload cost (verify ships sig[128] x 32 bands per doc through
  *    the banding shuffle; claim-only mode ships 16 bytes);
  *  - a batch-mode kernel floor: the same map-side shingle→minhash→
  *    band-explode with a count() sink and no streaming machinery at
  *    all — the pure kernel throughput bound.
  *
  * Every streaming cell must produce the same novel-doc count
  * (asserted — a config that changes the ANSWER is a bug, not a
  * tuning). Artifact: neardup_profile.json. Findings land in
  * docs/BENCH.md ("Streaming tier" section).
  *
  * Usage: runMain graft.NearDupProfile [scaled10xDir] [outJson]
  */
object NearDupProfile {

  val Provider = "spark.sql.streaming.stateStore.providerClass"
  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val scaledDir = args.headOption.getOrElse(
      ScaleSweep.scaledDirFor("/root/testdata/sf0.1", 10))
    val outJson = args.lift(1).getOrElse("neardup_profile.json")
    require(new java.io.File(s"$scaledDir/documents.parquet").exists,
      s"no scaled corpus at $scaledDir — run graft.ScaleSweep first")
    val spark = graft.core.Measure.session(graft.core.Measure.cpus)
    val hdfsProvider = spark.conf.get(Provider) // the build default

    val work = java.nio.file.Files
      .createTempDirectory("graft_neardup_prof").toString
    val docs = spark.read.parquet(s"$scaledDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    docs.repartition(16).write.mode("overwrite").parquet(s"$work/docs")
    val docRows = spark.read.parquet(s"$work/docs").count()

    val waitBudget = new graft.core.Measure.WaitBudget(300000L)
    def topo(name: String, mpt: Int, verify: Boolean): String =
      s"""topics:
         |  - name: docs
         |    kind: parquet
         |    path: $work/docs
         |    max_per_trigger: $mpt
         |    timestamp_col: ts
         |    watermark: 1 hour
         |  - name: out_$name
         |    kind: parquet
         |    path: $work/out_$name
         |    sink_partitions: 4
         |operators:
         |  neardup:
         |    factory: graft.streaming.ops.NearDupOp
         |    sources: [docs]
         |    sinks: [out_$name]
         |    config:
         |      verify: $verify
         |""".stripMargin

    val defaultSp = spark.conf.get("spark.sql.shuffle.partitions")
    def runCell(name: String, provider: String, mpt: Int,
                verify: Boolean, timed: Boolean = true,
                shufflePartitions: Option[Int] = None)
        : (String, Double, Long) = {
      spark.conf.set(Provider, provider)
      // stateful partition count is pinned by the query's FIRST
      // micro-batch (recorded in the checkpoint offset log) — each
      // cell starts a fresh checkpoint, so setting the session conf
      // here is exactly the per-query knob
      spark.conf.set("spark.sql.shuffle.partitions",
        shufflePartitions.map(_.toString).getOrElse(defaultSp))
      if (timed) graft.core.Measure.awaitQuietBox(waitBudget)
      val t0 = System.nanoTime()
      val queries = graft.streaming.Topology.parse(topo(name, mpt, verify))
        .runStream(spark, s"$work/ckpt_$name")
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
      val sec = (System.nanoTime() - t0) / 1e9
      val novel = spark.read.parquet(s"$work/out_$name").count()
      if (timed)
        System.err.println(f"neardup_prof $name: $docRows docs in " +
          f"$sec%.1fs = ${docRows / sec}%.0f docs/s (novel=$novel)")
      (f""""$name":{"sec":$sec%.2f,"docs_per_sec":${docRows / sec}%.0f,""" +
        f""""novel":$novel}""", sec, novel)
    }

    // untimed warmup (micro-batch machinery JIT — StreamSweep protocol)
    runCell("warmup", hdfsProvider, 4, verify = true, timed = false)

    val loadBefore = graft.core.Measure.loadAvg
    val cells = Seq(
      ("hdfs_mpt2_verify", hdfsProvider, 2, true, None),
      ("hdfs_mpt16_verify", hdfsProvider, 16, true, None),
      ("rocksdb_mpt2_verify", RocksDb, 2, true, None),
      ("rocksdb_mpt16_verify", RocksDb, 16, true, None),
      ("hdfs_mpt2_claims", hdfsProvider, 2, false, None),
      // the untested lever from the round-14 profile writeup: fewer
      // state partitions for a low-rate stream — per-batch cost is
      // (partitions x state-store commit), so 8 instead of 32 should
      // cut the machinery component if commits dominate
      ("hdfs_mpt2_verify_sp8", hdfsProvider, 2, true, Some(8)),
      ("hdfs_mpt16_verify_sp8", hdfsProvider, 16, true, Some(8))
    ).map { case (n, p, m, v, sp) => (runCell(n, p, m, v,
      shufflePartitions = sp), v) }
    spark.conf.set(Provider, hdfsProvider)
    spark.conf.set("spark.sql.shuffle.partitions", defaultSp)

    // answer invariance, stated honestly: with the single-timestamp
    // fixture the append-mode window NEVER finalizes before the stream
    // drains, so every cell's durable output is 0 rows BY SEMANTICS
    // (the state work — claims, verification, watermark bookkeeping —
    // is what the clock measures; the content semantics are pinned by
    // q_neardup_dag and StreamingSpec). The pin is therefore == 0 for
    // every cell: a cell emitting rows under this fixture means a
    // config broke append/watermark semantics (e.g. a leaked
    // checkCorrectness relaxation emitting early), which is exactly
    // what must fail the profile.
    val verifyNovel = cells.collect { case ((_, _, nv), true) => nv }
    require(verifyNovel.forall(_ == 0L),
      s"a cell emitted rows from an unfinalizable window: $verifyNovel")

    // kernel floor: identical map-side work (shingles -> minhash ->
    // 32 band keys, the verify payload included), zero streaming
    // machinery — bounds how fast ANY runner could go on this box
    graft.core.Measure.awaitQuietBox(waitBudget)
    val t0 = System.nanoTime()
    val d = spark.read.parquet(s"$work/docs")
    val sig = d.select(col("doc_id"),
      graft.llm.Dedup.minhashSigFromHashes(
        graft.llm.Dedup.textShingleHashes(col("text"), 3), 128).as("sig"))
    val kernelRows = sig.select(col("doc_id"),
        explode(graft.llm.Dedup.bandKeysFromSig(col("sig"), 128, 32))
          .as("bkey"), col("sig"))
      .groupBy("bkey").agg(min("doc_id").as("winner")).count()
    val kernelSec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"neardup_prof kernel_floor: $docRows docs in " +
      f"$kernelSec%.1fs = ${docRows / kernelSec}%.0f docs/s " +
      f"($kernelRows bands)")
    val loadAfter = graft.core.Measure.loadAvg

    val json = s"""{"metric":"neardup_docs_per_sec_best","value":${
      cells.map { case ((_, sec, _), _) => docRows / sec }.max.toLong
    },"unit":"docs/s","rows":$docRows,""" +
      s""""load_before":$loadBefore,"load_after":$loadAfter,""" +
      cells.map(_._1._1).mkString(",") +
      f""","kernel_floor":{"sec":$kernelSec%.2f,"docs_per_sec":${
        docRows / kernelSec}%.0f,"bands":$kernelRows},""" +
      s""""scaled":"$scaledDir"}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
