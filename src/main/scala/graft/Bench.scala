package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // optional dev args: args(0)=sfDir, args(1)=output
    // path — each overrides its env var; the driver passes neither
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // shared measurement session (8 MB splits keep single-file test
    // tables parallel) — graft.core.Measure, one definition for every
    // timed main
    val spark = core.Measure.session(core.Measure.cpus)
    // Untimed warmup: one representative per codegen family, so the
    // first timed query of each family does not pay the JVM's one-time
    // JIT and class-loading cost (measured round 1: ~50s of the 104s
    // total was first-touch; e.g. q_simhash_pairs 25.1s cold vs 1.9s
    // warm). It does not spare the first sweep whole-stage-codegen
    // compiles: generated classes are per plan, and only the second
    // sweep finds them cached (`codegen_compiles` counts the compiles
    // of all timed sweeps). Families: scan/agg, filter, broadcast join,
    // HOF/text shingles, MinHash, SimHash, RHP/LSH, IVF, json codec,
    // WindowExec, sequential-fold EWMA, as-of join.
    Seq("q_agg", "q_filter", "q_join_revenue",
        "q_ngram_jaccard", "q_minhash_pairs", "q_simhash_pairs",
        "q_embed_neardup_lsh", "q_simsearch_lsh", "q_simsearch_ivf",
        "q_json_codec", "q_roll_mean", "q_ewma", "q_asof",
        "q_dedup_clusters",
        // round-10 kernel families: SQ encode/ADC, fused language ID
        "q_sq_search", "q_langid").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    // min over LOAD-ROBUST iterations. Round-8 lesson: back-to-back
    // min-of-2 on one query puts both iterations inside the same
    // transient load window (the driver artifact recorded 8.10s for a
    // reproducibly-0.84s query), so the two timed passes run as FULL
    // SUITE SWEEPS — pass 1 over every query, then pass 2 — putting
    // minutes between a query's two samples; a spike that inflates one
    // sweep cannot inflate both. Any query whose max/min still exceeds
    // 2 gets a THIRD sample (a real regression reproduces; a transient
    // doesn't). System load average is stamped before/after so a noisy
    // run is self-evident in the artifact.
    def loadAvg: Double = core.Measure.loadAvg
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b — ADDITIVE dev/scaling knob (r15
    // verdict task 5), default off (the driver sets no such env, so its
    // protocol is byte-identical): restrict the timed sweeps to a named
    // subset so an 8c-vs-32c comparison over the >1s rows yields a
    // scaling ratio the 240-row scheduling floor can't drown. Subset
    // runs default their artifact to bench_subset_out.json so a dev run
    // can never clobber the committed full-suite bench_out.json that
    // feeds the history-retry and floor gates.
    val onlyBench: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toVector
      .filter(n => onlyBench.forall(_.contains(n)))
    // a throwing query must NOT read as a fast green number: its
    // time-to-failure would land in the artifact, the suite total would
    // IMPROVE, and tools/bench_floor.py's per-query min would adopt the
    // failure time as the query's floor FOREVER (min over committed
    // history never ages out). Failures are recorded by name, stamped
    // into the artifact, excluded by the floor tool, and fail the run.
    val failures =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOne(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable => failures(name) =
          Option(t.getMessage).getOrElse(t.getClass.getName).take(160)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Round-10 lesson: the variance trigger above is blind to a load
    // ramp that inflates BOTH sweeps consistently (q_retention_hll
    // reported 2.16s for a reproducibly-0.41s query; min/max agreed, so
    // no retry fired). Second trigger: the previous round's committed
    // bench_out.json (the ONLY full committed artifact — the driver's
    // BENCH_r*.json wrappers keep a 2KB stdout tail that truncates the
    // queries map) is the per-query history — a min that exceeds 2x
    // last round's min (+0.15s absolute slack so millisecond queries
    // don't flap) earns up to TWO more samples at the very end of the
    // run, maximally far from whatever load window inflated the
    // sweeps. A real regression survives all samples; r10's artifact
    // trio would have recovered. History only applies at the same sf
    // (a dev sf0.001 run against sf0.1 history would never fire, and
    // an sf0.1 run against dev history would retry everything).
    def prevRoundMins: Map[String, Double] = try {
      Seq("bench_out.json", "/root/repo/bench_out.json")
        .map(new java.io.File(_)).find(_.isFile)
        .map(f => BenchFloor.queriesFor(
          java.nio.file.Files.readString(f.toPath), sfDir))
        .getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
    val history = prevRoundMins
    // the SAME constants as the floor gate (BenchFloor's stated
    // purpose: one definition so the retry trigger and the gate cannot
    // disagree about what counts as a regression)
    def regressedVsHistory(n: String, min: Double): Boolean =
      history.get(n).exists(prev => prev > 0 &&
        min > BenchFloor.AbsFactor * prev + BenchFloor.AbsSlackSec)
    // Round-11 lesson: the committed artifact was taken on a box whose
    // load ramped 4->8 during the run, soft-flooring every number (three
    // queries landed 1.4-5x their same-round quiet-box measurements).
    // LOAD GATE: before each timed sweep, wait (bounded) for the 1-min
    // load average to drop below 2.0, polling every 15s, with a 300s
    // TOTAL wait budget across the run so a permanently-busy box still
    // produces an artifact (the stamps expose it). Waited time is
    // stamped into the JSON so a gated run is self-documenting.
    val waitBudget = new core.Measure.WaitBudget(300000L)
    var waitedTotalMs = 0L
    def awaitQuietBox(): Unit =
      waitedTotalMs += core.Measure.awaitQuietBox(waitBudget)
    awaitQuietBox()
    val loadBefore = loadAvg // stamped AFTER the gate: the sweep's load
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val compilesBefore = compiles
    val sweep1 = names.map(n => n -> timeOne(n)).toMap
    awaitQuietBox()
    val sweep2 = names.map(n => n -> timeOne(n)).toMap
    val afterVariance: Map[String, Seq[Double]] = names.map { n =>
      val two = Seq(sweep1(n), sweep2(n))
      val all = if (two.max / math.max(two.min, 1e-9) > 2.0)
        two :+ timeOne(n) else two
      n -> all
    }.toMap
    val results: Map[String, Seq[Double]] = {
      val flagged = names.filter(n =>
        regressedVsHistory(n, afterVariance(n).min))
      if (flagged.nonEmpty) System.err.println(
        s"bench: history-retry for ${flagged.mkString(", ")}")
      // one quiet pass over all flagged queries, then a second only for
      // those STILL above the threshold
      if (flagged.nonEmpty) awaitQuietBox()
      val third = flagged.map(n => n -> timeOne(n)).toMap
      val fourth = flagged.filter(n =>
          regressedVsHistory(n, math.min(afterVariance(n).min, third(n))))
        .map(n => n -> timeOne(n)).toMap
      names.map { n =>
        n -> (afterVariance(n) ++ third.get(n) ++ fourth.get(n))
      }.toMap
    }
    val loadAfter = loadAvg
    val codegenCompiles = compiles - compilesBefore
    // Round-13: the "no query past 2x" judgment, in-repo. bench_floor
    // .json (tools/bench_floor.py — per-query min over every committed
    // sf0.1 bench_out.json revision) is the floor ledger; the gate
    // logic itself lives in [[BenchFloor]] (shared with BenchFloorSpec
    // so the in-run stamp and the sbt-test assertion cannot diverge).
    // over_floor rows that survived the end-of-run quiet retries
    // deserve a plan read.
    val floorFile = Seq("bench_floor.json", "/root/repo/bench_floor.json")
      .map(new java.io.File(_)).find(_.isFile)
    val ledgerText: Option[String] = floorFile.flatMap { f =>
      try Some(java.nio.file.Files.readString(f.toPath))
      catch { case e: Throwable =>
        System.err.println(s"bench: floor ledger unreadable ($f): $e")
        None
      }
    }
    val floors: Map[String, Double] =
      ledgerText.map(BenchFloor.floorsFor(_, sfDir)).getOrElse(Map.empty)
    // a disabled gate must be distinguishable from a clean pass in the
    // artifact (advice r13): stamp WHY no floors applied
    val floorStatus =
      if (floors.nonEmpty) s"active:${floors.size}"
      else if (floorFile.isEmpty) "disabled:no-ledger-file"
      else if (ledgerText.isEmpty) "disabled:unreadable"
      else if (ledgerText.exists(t =>
          BenchFloor.numSection(t, "floors").nonEmpty))
        "disabled:sf-mismatch" // a dev-sf run against the sf0.1 ledger
      else "disabled:unparseable-or-empty"
    if (floors.isEmpty)
      System.err.println(s"bench: floor gate $floorStatus")
    val floorGate = BenchFloor.gate(
      names.map(n => n -> results(n).min).toMap, floors)
    val medRatio = floorGate.medianRatio
    floorGate.overFloor.foreach { fl =>
      System.err.println(f"bench: OVER-FLOOR ${fl.name} " +
        f"min=${fl.min}%.2fs floor=${fl.floor}%.2fs (${fl.ratio}%.1fx " +
        f"vs median $medRatio%.1fx)")
    }
    val overFloorJson = floorGate.overFloor.map(fl =>
      s"\"" + fl.name + "\":[" + fl.min + "," + fl.floor + "]")
      .mkString("{", ",", "}")
    val qs = names.map(k => s"\"" + k + "\":" + results(k).min)
      .mkString("{", ",", "}")
    val mm = names.map(k =>
      s"\"" + k + "\":[" + results(k).mkString(",") + "]")
      .mkString("{", ",", "}")
    // JSON string escaping (the Verify q() rule): a quote/backslash in
    // a path or an exception message must not make the artifact
    // unparseable — "parsed": null is the round-4 failure this file
    // exists to prevent
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    val failedJson = failures.map { case (n, m) => jq(n) + ":" + jq(m) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_.min).sum else 0.0
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","load_before":$loadBefore,"load_after":$loadAfter,"load_wait_sec":${waitedTotalMs / 1000},"codegen_compiles":$codegenCompiles,"floor_gate":"$floorStatus","floor_median_ratio":$medRatio,"over_floor":$overFloorJson,"failed":$failedJson,"queries":$qs,"queries_minmax":$mm,"sf":${jq(sfDir)}}"""
    println(json)
    // stdout rides sbt's log stream, where a prefix/interleave can break
    // the driver's parser (round 4 lost its headline metric to
    // "parsed": null) — the file copy is the parse-proof artifact
    val out = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (onlyBench.isDefined) "bench_subset_out.json"
        else "bench_out.json"))
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: $e")
    }
    // The driver keeps only a ~4 KB tail of stdout; the full per-query
    // JSON above outgrew it two rounds running ("parsed": null). The
    // LAST line is a short headline-only duplicate that a tail of any
    // size keeps intact.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":${jq(sfDir)}}""")
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"bench: ${failures.size} QUERY FAILURE(S): " +
        failures.keys.mkString(", ") + " — artifact stamped, run FAILED")
      sys.exit(1)
    }
  }
}
