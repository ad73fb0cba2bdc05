package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Bench's timing protocol over the queries of `sfDir`, shared with
    * `graft.Dev scale`.
    *
    * Min over LOAD-ROBUST iterations. Round-8 lesson: back-to-back
    * min-of-2 on one query puts both iterations inside the same
    * transient load window (a committed artifact recorded 8.10s for a
    * reproducibly-0.84s query), so the two timed passes run as FULL
    * SUITE SWEEPS — pass 1 over every query, then pass 2 — putting
    * minutes between a query's two samples; a spike that inflates one
    * sweep cannot inflate both. Any query whose max/min still exceeds 2
    * gets a THIRD sample (a real regression reproduces; a transient
    * doesn't).
    *
    * Round-11 lesson: the committed artifact was taken on a box whose
    * load ramped 4->8 during the run, soft-flooring every number. LOAD
    * GATE ([[awaitQuietBox]]): before each timed sweep, wait (bounded)
    * for the CPU load of other processes to drop below 2 cores,
    * checking every 15s,
    * with one TOTAL wait `budget` per run so a permanently-busy box still
    * produces an artifact. Callers gate before the first sweep and stamp
    * [[waitedMs]]. */
  final class Timer(spark: SparkSession, sfDir: String,
                    budget: core.Measure.WaitBudget) {

    /** Queries that threw, with the message. A throwing query must NOT
      * read as a fast green number: its time-to-failure would land in
      * the artifact, the suite total would IMPROVE, and
      * tools/bench_floor.py's per-query min would adopt the failure
      * time as the query's floor FOREVER. Callers stamp failures into
      * the artifact and fail the run or the row. */
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

    private var waited = 0L

    /** Milliseconds spent in [[awaitQuietBox]] so far. */
    def waitedMs: Long = waited

    def awaitQuietBox(): Unit = waited += core.Measure.awaitQuietBox(budget)

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count() catch {
        case t: Throwable => failures(name) =
          Option(t.getMessage).getOrElse(t.getClass.getName).take(160)
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** Two full sweeps over `names` with the load gate between them, and
      * a third sample for each query whose max/min exceeds 2. */
    def sweep(names: Seq[String]): Map[String, Seq[Double]] = {
      val sweep1 = names.map(n => n -> timeOne(n)).toMap
      awaitQuietBox()
      val sweep2 = names.map(n => n -> timeOne(n)).toMap
      names.map { n =>
        val two = Seq(sweep1(n), sweep2(n))
        n -> (if (two.max / math.max(two.min, 1e-9) > 2.0)
          two :+ timeOne(n) else two)
      }.toMap
    }
  }

  def main(args: Array[String]): Unit = {
    // optional dev args: args(0)=sfDir, args(1)=output
    // path — each overrides its env var; the driver passes neither
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // shared measurement session (8 MB splits keep single-file test
    // tables parallel) — graft.core.Measure, one definition for every
    // timed main
    val spark = core.Measure.session(core.Measure.cpus)
    // Untimed warmup: the first case of every query family, so the
    // first timed query of each family does not pay the JVM's one-time
    // JIT and class-loading cost (measured round 1: ~50s of the 104s
    // total was first-touch; e.g. q_simhash_pairs 25.1s cold vs 1.9s
    // warm). It does not spare the first sweep whole-stage-codegen
    // compiles: generated classes are per plan, and only the second
    // sweep finds them cached (`codegen_compiles` counts the compiles
    // of all timed sweeps).
    SparkEntry.families.foreach { f =>
      try f.cases.head.run(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    val names = SparkEntry.queries.keys.toVector
    val timer = new Timer(spark, sfDir, new core.Measure.WaitBudget(300000L))
    // Round-10 lesson: the Timer's variance trigger is blind to a load
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
    // The file is read from the working directory only: a second
    // checkout must never gate against another tree's history.
    def prevRoundMins: Map[String, Double] = try {
      Some(new java.io.File("bench_out.json")).filter(_.isFile)
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
    // System load average is stamped before/after so a noisy run is
    // self-evident in the artifact; before is stamped AFTER the gate
    timer.awaitQuietBox()
    val loadBefore = core.Measure.loadAvg
    def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val compilesBefore = compiles
    val afterVariance = timer.sweep(names)
    val results: Map[String, Seq[Double]] = {
      val flagged = names.filter(n =>
        regressedVsHistory(n, afterVariance(n).min))
      if (flagged.nonEmpty) System.err.println(
        s"bench: history-retry for ${flagged.mkString(", ")}")
      // one quiet pass over all flagged queries, then a second only for
      // those STILL above the threshold
      if (flagged.nonEmpty) timer.awaitQuietBox()
      val third = flagged.map(n => n -> timer.timeOne(n)).toMap
      val fourth = flagged.filter(n =>
          regressedVsHistory(n, math.min(afterVariance(n).min, third(n))))
        .map(n => n -> timer.timeOne(n)).toMap
      names.map { n =>
        n -> (afterVariance(n) ++ third.get(n) ++ fourth.get(n))
      }.toMap
    }
    val loadAfter = core.Measure.loadAvg
    val codegenCompiles = compiles - compilesBefore
    // Round-13: the "no query past 2x" judgment, in-repo. bench_floor
    // .json (tools/bench_floor.py — per-query min over every committed
    // sf0.1 bench_out.json revision) is the floor ledger; the gate
    // logic itself lives in [[BenchFloor]] (shared with BenchFloorSpec
    // so the in-run stamp and the sbt-test assertion cannot diverge).
    // over_floor rows that survived the end-of-run quiet retries
    // deserve a plan read.
    val floorFile = Some(new java.io.File("bench_floor.json")).filter(_.isFile)
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
    val jq = core.Measure.jsonString _
    val failures = timer.failures
    val failedJson = failures.map { case (n, m) => jq(n) + ":" + jq(m) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_.min).sum else 0.0
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","load_before":$loadBefore,"load_after":$loadAfter,"load_wait_sec":${timer.waitedMs / 1000},"codegen_compiles":$codegenCompiles,"floor_gate":"$floorStatus","floor_median_ratio":$medRatio,"over_floor":$overFloorJson,"failed":$failedJson,"queries":$qs,"queries_minmax":$mm,"sf":${jq(sfDir)}}"""
    // stdout rides sbt's log stream, where a prefix/interleave can break
    // the driver's parser (round 4 lost its headline metric to
    // "parsed": null) — the file copy is the parse-proof artifact
    core.Measure.writeArtifact(args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), json)
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
