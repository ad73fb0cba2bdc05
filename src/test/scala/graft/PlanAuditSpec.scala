package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import scala.util.Try

/** Plan-shape audits: the properties that decide whether a query survives
  * a 100 TB scale-up, pinned as tests so a refactor that silently
  * de-optimizes a plan (drops a pushdown, un-broadcasts a dim, sneaks in
  * a cartesian product) fails CI rather than surfacing as a cluster bill.
  * Runs against the sf0.001 corpus (plans, not data volume). */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): SparkPlan = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.queryExecution.executedPlan
  }

  private def planStr(q: String): String = plan(q).toString

  /** The optimized logical plan, also of a streaming Dataset (whose
    * QueryExecution refuses to optimize outside `start()`). */
  private def optimized(df: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    if (df.isStreaming)
      spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
    else df.queryExecution.optimizedPlan

  /** One battery query as built: its QueryExecution (or the failure to
    * build it), and whether building it left a Dataset cache in the
    * session. */
  private case class Built(qe: Try[QueryExecution], leftCache: Boolean)

  /** Every battery query built once, shared by the three battery-wide
    * audits (the first takes its executedPlan, the second its
    * optimizedPlan, which the first already computed, the third its
    * cache flag). A query that fails to build holds its failure here and
    * fails the plan audits. Each build starts from an empty cache:
    * `Dataset.persist` registers its plan with the CacheManager when it
    * is called, so a cache left after the build is one the query never
    * releases. */
  private lazy val battery: Map[String, Built] =
    SparkEntry.queries.map { case (q, fn) =>
      spark.catalog.clearCache()
      val qe = Try(fn(spark, sfDir).queryExecution)
      q -> Built(qe, !spark.sharedState.cacheManager.isEmpty)
    }

  test("q_filter pushes its predicate into the parquet scan") {
    val p = planStr("q_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), p)
  }

  test("q_join_revenue broadcasts dimension tables; the fact table is " +
    "never the build side of a shuffle join") {
    val p = planStr("q_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_topk plans as a partial top-k (TakeOrderedAndProject), not a " +
    "global sort") {
    val p = planStr("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("projection pruning reaches the scan: q_agg reads only the " +
    "columns it aggregates") {
    val p = planStr("q_agg")
    // lineitem is 16 columns wide; the ReadSchema must mention only the
    // 4 the query touches
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"), read)
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"), read)
  }

  test("no accidental cartesian products anywhere in the battery " +
    "(1-row broadcast side inputs excepted)") {
    // known-intentional: withLatestFrom / brute-force sim-search cross a
    // 1-row or broadcast-query side input; everything else must be keyed
    val allowed = Set("q_with_latest", "q_simsearch_topk", "q_roll_mean",
      "q_batch", "q_hll_intersect") // 1-row estimate frames composed
    SparkEntry.queries.keys.filterNot(allowed).foreach { q =>
      // a query that fails to PLAN is an audit failure, not a skip —
      // swallowing it here would green-light a broken query
      val p = try battery(q).qe.get.executedPlan.toString catch {
        case e: Throwable => fail(s"$q failed to plan: ${e.getMessage}")
      }
      assert(!p.contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
    }
  }

  test("no battery query leaves a Dataset cache behind (a cache is held " +
    "only inside Ops.withPersisted)") {
    assert(battery.size == SparkEntry.queries.size)
    val leakers = battery.collect { case (q, b) if b.leftCache => q }
      .toSeq.sorted
    assert(leakers.isEmpty,
      s"${leakers.size} queries leave a cache after building: " +
        leakers.mkString(", "))
  }

  test("TPC-H shapes: dims broadcast, facts shuffle on the join key, " +
    "top-N bounded (TakeOrderedAndProject)") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q10", "q_tpch_q18")) {
      val p = planStr(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(p.contains("TakeOrderedAndProject"), s"$q: $p")
    }
    // Q5's four dims all broadcast; Q1 is one hash-agg pass with the
    // ship-date filter pushed to the scan
    assert(planStr("q_tpch_q5").contains("BroadcastHashJoin"))
    val q1 = planStr("q_tpch_q1")
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate)"), q1)
    assert(!q1.contains("SortMergeJoin"), q1)
  }

  test("q_key_skew plans a bounded global top-N (TakeOrderedAndProject)" +
    " and broadcasts the 1-row totals") {
    val p = planStr("q_key_skew")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_domain_cap plans the bounded TopKCollect aggregate, " +
    "no WindowExec over the corpus") {
    val p = planStr("q_domain_cap")
    assert(!p.contains("Window "), p)
    assert(p.contains("topk"), p)
  }

  test("q_kn_bigram broadcasts all three bounded model tables and " +
    "plans no sort-merge join or window over the corpus") {
    val p = planStr("q_kn_bigram")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window "), p)
  }

  test("dense count-window queries plan no WindowExec (the 1-row max " +
    "side aggregate is the only single-partition stage)") {
    for (q <- Seq("q_roll_mean", "q_batch", "q_sample_every")) {
      val p = planStr(q)
      // no global-sort WindowExec over the data; the rollDense side input
      // is a 1-row broadcast (its final agg legitimately runs on one task
      // over per-partition partials)
      assert(!p.contains("Window "), s"$q: WindowExec present\n$p")
    }
  }

  test("q_weighted_sample scores map-only and cuts via " +
    "TakeOrderedAndProject — the only WindowExec ranks the k-row result") {
    val p = planStr("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hash"), p)
  }

  test("q_quota_sample ranks through the bounded TopKCollect aggregate " +
    "— no WindowExec anywhere") {
    val p = planStr("q_quota_sample")
    assert(!p.contains("Window "), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      p)
  }

  test("q_rolling_actives: the window fan-out is an equi-keyed explode " +
    "— no inequality join (BroadcastNestedLoopJoin) in the plan") {
    val p = planStr("q_rolling_actives")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("drift queries: corpus sides never broadcast (vocab-sized joins " +
    "stay keyed); totals ride as broadcast 1-row frames") {
    for (q <- Seq("q_token_drift", "q_drift_by_source", "q_hist_drift")) {
      val p = planStr(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q: totals not broadcast\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
  }

  test("similarity-search ranking is a bounded top-k aggregation, not a " +
    "per-query window (map-side partials carry ≤k rows per query)") {
    for (q <- Seq("q_simsearch_topk", "q_simsearch_lsh", "q_simsearch_ivf")) {
      val p = planStr(q)
      assert(!p.contains("Window "), s"$q: WindowExec present\n$p")
    }
  }

  test("multimodal feature extraction stays in the Dataset pipeline — " +
    "no RDD hop (Scan ExistingRDD) breaking lineage to the parquet scan") {
    val p = planStr("q_multimodal_features")
    assert(!p.contains("ExistingRDD"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("contamination broadcasts the benchmark shingle set — the corpus " +
    "side is one map pass, never a sort-merge shuffle") {
    val p = planStr("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("fraction decontamination keeps the contamination shape: the " +
    "benchmark set broadcasts, the corpus side never sort-merges") {
    val p = planStr("q_contamination_frac")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("NB quality scoring broadcasts the class-count tables to the " +
    "corpus pass; the only sort-merge is the vocab-sized full-outer " +
    "of the two count tables (full outer can't broadcast), never the " +
    "corpus; no window") {
    val p = planStr("q_quality_nb")
    assert(p.contains("BroadcastHashJoin"), p)
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("FullOuter")), p)
    assert(!p.contains("Window "), p)
  }

  test("C4 cleaning is map-side gates + one per-doc reassembly agg: no " +
    "join of any kind, no window") {
    val p = planStr("q_c4_clean")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window "), p)
  }

  test("bloom decontamination probes map-side: the bloom filter rides as " +
    "a literal in a Filter, no join on the corpus probe path") {
    val p = planStr("q_contamination_bloom")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("dsir scoring broadcasts the bucket-model tables — the corpus " +
    "path is aggregates plus a broadcast join, never a sort-merge") {
    val p = planStr("q_dsir_scores")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window "), p)
  }

  test("dsir selection is a distributed partial top-n, not a global " +
    "sort of the scored corpus") {
    val p = planStr("q_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pq encode is map-only (codebook rides the plan); adc search " +
    "ranks via the bounded top-k aggregate, no window, no sort-merge") {
    val pc = planStr("q_pq_codes")
    assert(!pc.contains("Join"), pc)
    val ps = planStr("q_pq_search")
    assert(!ps.contains("Window "), ps)
    assert(!ps.contains("SortMergeJoin"), ps)
    assert(ps.contains("topk"), ps)
  }

  test("k-means assignment is map-only: the centroid table rides the " +
    "plan, no join and no window anywhere") {
    val p = planStr("q_kmeans_assign")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window "), p)
  }

  test("duplicate-span detection needs no sort-merge join — candidates " +
    "come from posting lists; the island window is keyed per pair") {
    val p = planStr("q_dup_spans")
    assert(!p.contains("SortMergeJoin"), p)
    // the gaps-and-islands window must EXIST and be keyed per pair
    val win = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(win.nonEmpty, s"no Window operator found in plan\n$p")
    assert(win.contains("id_a"), win)
  }

  test("banded dedup queries shuffle band keys, never signature arrays") {
    // the Exchange feeding bucket collection must carry (id, bkey) only
    val p = planStr("q_embed_neardup_lsh")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(exchanges.contains("bkey"), exchanges)
    assert(!exchanges.contains("v#") || !exchanges.contains("bkey#") ||
      !exchanges.split("\n").exists(l => l.contains("bkey") && l.contains(" v#")),
      s"signature/vector riding the band shuffle:\n$exchanges")
  }

  test("cross-corpus dedup anti-joins via broadcast (the reference " +
    "fingerprint set rides to the candidates, the corpus never sorts)") {
    for (q <- Seq("q_dedup_against", "q_pipeline_corpus")) {
      val p = planStr(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plans a SortMergeJoin")
    }
  }

  test("content dedup runs one fingerprint kernel per row and no " +
    "regex: DedupOp (batch and streaming) and Dedup.exactByContent") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import graft.functions.Fingerprint
    def audit(what: String, lp: LogicalPlan): Unit = {
      val exprs = lp.collect { case n => n.expressions }.flatten
      val regex = exprs.flatMap(_.collect { case r: RegExpReplace => r })
      val fps = exprs.flatMap(_.collect { case f: Fingerprint => f })
      assert(regex.isEmpty && fps.size == 1,
        s"$what: ${fps.size} fingerprints, ${regex.size} regexp_replace" +
          s"\n$lp")
    }
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    audit("DedupOp batch", optimized(graft.streaming.ops.DedupOp(
      Map.empty, Seq(docs)).head))
    audit("exactByContent", optimized(graft.llm.Dedup.exactByContent(
      docs, "doc_id", "text")))
    val tmp = java.nio.file.Files.createTempDirectory("fp_plan").toString
    val stream = spark.readStream
      .schema("doc_id long, ts timestamp, text string").parquet(tmp)
    audit("DedupOp streaming", optimized(graft.streaming.ops.DedupOp(
      Map.empty, Seq(stream)).head))
  }

  test("NearDupOp groups band rows on the bkey column: no AppendColumns " +
    "(a deserialization of every band row) in plain or verify mode, " +
    "batch or streaming; the streaming state key stays `value: bigint`") {
    import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, FlatMapGroupsWithState}
    import org.apache.spark.sql.functions.{col, lit}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("nd_plan").toString
    val stream = spark.readStream
      .schema("doc_id long, ts timestamp, text string").parquet(tmp)
      .withWatermark("ts", "10 minutes")
    try {
      for ((mode, src) <- Seq("batch" -> docs, "streaming" -> stream);
           verify <- Seq(false, true)) {
        val lp = optimized(graft.streaming.ops.NearDupOp(
          Map("verify" -> verify), Seq(src)).head)
        val what = s"$mode verify=$verify"
        assert(lp.collect { case a: AppendColumns => a }.isEmpty,
          s"$what\n$lp")
        // the key schema groupByKey(_.bkey) gave the state store, so
        // checkpoints written before the column grouping restart
        val keys = lp.collect { case f: FlatMapGroupsWithState =>
          f.groupingAttributes.map(a => (a.name, a.dataType, a.nullable))
        }
        assert(keys == Seq(Seq(("value",
          org.apache.spark.sql.types.LongType, false))), s"$what: $keys")
      }
    } finally graft.streaming.AnalysisConf.restoreAll(spark)
  }

  test("HLL distinct-count plans a partial max before the exchange — " +
    "each task ships <= 2^p register rows, never raw items") {
    val p = planStr("q_hll_distinct")
    // two-phase hash aggregate around the bucket exchange
    val aggs = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(_.contains("partial_max")), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window "), p)
  }

  test("count-min lookup broadcasts the cell table; the sketch build is " +
    "a partial-count aggregate (<= depth*width rows per task shuffled)") {
    val p = planStr("q_countmin")
    assert(p.contains("BroadcastHashJoin"), p)
    val aggs = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(_.contains("partial_count")), p)
  }

  test("global shuffle-shard windows are hash-partitioned by shard — " +
    "the per-shard sort never collapses to a single partition") {
    val p = planStr("q_shuffle_shards")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("budget mixing broadcasts the bucket-prefix table and keys its " +
    "windows by (stratum, bucket) — no per-stratum global sort") {
    val p = planStr("q_mix_budget")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the intra-bucket cumsum window partitions on (__s, __b): its
    // exchange must carry the bucket column, not stratum alone
    val win = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(win.contains("__b"), s"window not bucket-keyed: $win\n$p")
  }

  test("span trim generates NO pairs: rank-per-gram + per-doc island " +
    "windows; the only join is the doc-id-keyed containment anti join") {
    val p = planStr("q_trim_spans")
    assert(!p.contains("CartesianProduct"), p)
    // windows keyed by gram hash (rank) and doc id (islands/offsets)
    val wins = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(wins.exists(_.contains("__g")), s"no per-gram rank window\n$p")
    // the anti join may sort-merge (the island side is data-dependent,
    // not broadcastable) but must key on the DOC id — joining on
    // anything text/gram-shaped would be pair generation in disguise
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    smj.foreach { j =>
      assert(j.contains("LeftAnti") && j.contains("doc_id"), j)
    }
  }

  test("BPE encoding is a compiled map-only pass: the merge table rides " +
    "the expression (no join), inside whole-stage codegen") {
    val p = planStr("q_token_bpe")
    assert(!p.contains("Join"), p)
    assert(p.toLowerCase.contains("bpeencode"), p)
    // map-only: the ONLY exchange is the output-order range partition
    // (pre-AQE plan strings don't render WholeStageCodegen spans; the
    // expression's codegen path is exercised by BpeSpec at runtime)
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
  }

  test("BPE-budget mixing keeps the q_mix_budget plan shape (broadcast " +
    "prefix table, bucket-keyed cumsum window)") {
    val p = planStr("q_mix_budget_bpe")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val win = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(win.contains("__b"), s"window not bucket-keyed: $win\n$p")
  }

  test("far-keeper semantic dedup broadcasts the k-row centroid table " +
    "and ranks inside per-component windows") {
    val p = planStr("q_semantic_dedup_far")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val win = p.linesIterator.find(_.contains("Window ")).getOrElse("")
    assert(win.contains("component"), s"$win\n$p")
  }

  test("paragraph dedup partitions every exchange by hash/id keys, " +
    "never by the paragraph text column") {
    val p = planStr("q_paragraph_dedup")
    // the paragraph payload rides the exchanges (reassembly needs it) but
    // partitioning must key on __h / doc_id — hashing/comparing full text
    // per row at the exchange would be the 100 TB mistake
    val keys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(keys.nonEmpty, p)
    keys.foreach { s =>
      val keyExpr = s.substring(s.indexOf("hashpartitioning"))
      assert(!keyExpr.contains("para#"),
        s"paragraph text is a partition key: $s")
    }
  }

  test("bigram LM scoring broadcasts both count tables — the corpus " +
    "path is one map pass plus the per-doc aggregate, no sort-merge") {
    val p = planStr("q_bigram_lik")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window "), p)
  }

  test("lm tercile bucketing windows are KEYED by histogram cell — no " +
    "corpus-wide single-partition window (the offsets window runs over " +
    "the constant-bounded histogram only)") {
    val p = planStr("q_lm_buckets")
    // the corpus-side rank window must partition by the cell key
    assert(p.contains("windowspecdefinition(__cell"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bm25 broadcasts df/totals and joins NO corpus-sized side " +
    "table (doc length rides the explode); no sort-merge, no window") {
    val p = planStr("q_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window "), p)
    // exactly two joins: broadcast df + 1-row totals cross — a third
    // would be the corpus-sized doc-length join this plan must avoid
    assert(p.linesIterator.count(_.trim.startsWith("+- Broadcast")) <= 3, p)
  }

  test("residual ivf-pq keeps the cell-keyed candidate join (probe " +
    "frame broadcast) — no cartesian, no sort-merge, no window; " +
    "ranking is the bounded top-k aggregate") {
    val p = planStr("q_pq_ivf_residual")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window "), p)
  }

  test("retrieval audit composes without a corpus sort-merge: model " +
    "tables broadcast end to end, per-query ranking via the bounded " +
    "top-k aggregate") {
    val p = planStr("q_retrieval_audit")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("hybrid fusion cuts both lists to their top-k BEFORE ranking " +
    "and fusing — the fusion join inputs are constant-bounded (the " +
    "full-outer itself can't broadcast in Spark, which is fine at " +
    "50 rows a side)") {
    val p = planStr("q_hybrid_topk")
    assert(p.contains("TakeOrderedAndProject(limit=50"), p)
    assert(p.contains("TakeOrderedAndProject(limit=10"), p)
    // no window over an uncut corpus: every Window sits above a
    // TakeOrderedAndProject or a bounded top-k aggregate
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_roll_sliding: the sliding count window is a KEYED WindowExec " +
    "(per-user numbering) + keyed aggregate — no corpus-wide unkeyed " +
    "window, no cartesian") {
    val p = planStr("q_roll_sliding")
    // the row_number window partitions by user_id — an UNKEYED window
    // would print 'Window [...], []' (empty partition spec)
    assert(p.contains("user_id"), p)
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\],.*"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_approx_distinct_oracle: the per-window register table is one " +
    "hash aggregate over (window, bucket) — no window function, no " +
    "join, no cartesian on the sketch path") {
    val p = planStr("q_approx_distinct_oracle")
    assert(!p.contains("Window "), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("DomainCapOp quality_col (the DAG cap stage) plans the bounded " +
    "TopKCollect aggregate, never a rank-everything WindowExec") {
    val df = graft.streaming.ops.DomainCapOp(
      Map("k" -> 30, "quality_col" -> "n_chars"),
      Seq(SparkEntry.queries("q_url_parse")(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("url"))
        .join(graft.core.Tables.table(spark, sfDir, "documents")
          .select("doc_id", "n_chars"), "doc_id"))).head
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("topk"), p)
    assert(!p.contains("Window "), p)
  }

  test("GopherGateOp evaluates ONE fused kernel, not re-inlined HOF " +
    "tokenizations: zero split()/lambda passes; at most one " +
    "gopher_admit in the pushed filter and one in the projection " +
    "(round-8 verdict #1 — the old plan carried TWELVE inlined " +
    "tokens(text) copies)") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val df = graft.streaming.ops.GopherGateOp(
      Map("n_tokens_col" -> "n_tokens"), Seq(docs)).head
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("split("), opt)
    assert(!opt.contains("lambdafunction"), opt)
    val n = "gopher_admit".r.findAllIn(opt).length
    assert(n >= 1 && n <= 2, s"gopher_admit occurrences = $n\n$opt")
    // filter-only path: exactly one kernel instantiation
    val fOnly = graft.streaming.ops.GopherGateOp(Map.empty, Seq(docs))
      .head.queryExecution.optimizedPlan.toString
    assert("gopher_admit".r.findAllIn(fOnly).length == 1, fOnly)
  }

  test("SimplifyKernelPredicates keeps the shingle kernel out of " +
    "pushed/inferred filters: explode-over-kernel plans carry the " +
    "zero-alloc token_count gate and exactly ONE kernel instantiation " +
    "per branch (InferFiltersFromGenerate + pushdown otherwise inline " +
    "it twice more at the scan)") {
    // no kernel may appear inside ANY Filter condition (the rule's
    // whole point); single-consumer plans get exactly one logical
    // instantiation. Multi-consumer plans (minhash_pairs' three sig
    // consumers) print one copy per consumer and dedupe them physically
    // (ReusedExchange).
    def kernelCount(s: String): Int =
      "graft_text_shingle_hashes\\(\\w".r.findAllIn(s).length +
        "graft_hashed_tokens\\(\\w".r.findAllIn(s).length
    def audit(q: String, maxLogical: Int): Unit = {
      val opt = SparkEntry.queries(q)(spark, sfDir).queryExecution
        .optimizedPlan.toString
      val badFilter = opt.linesIterator.exists(l =>
        l.trim.stripPrefix(":").stripPrefix("- ").trim
          .startsWith("Filter") &&
          (l.contains("graft_text_shingle_hashes") ||
            l.contains("graft_hashed_tokens")))
      assert(!badFilter, s"$q: kernel inside a Filter condition\n$opt")
      val kernels = kernelCount(opt)
      assert(kernels <= maxLogical,
        s"$q: $kernels kernel instantiations\n$opt")
    }
    audit("q_ngram_jaccard", 1)
    audit("q_hash_embed", 1)
    audit("q_minhash_pairs", 3)
  }

  test("SimplifyKernelPredicates is row-equivalent: rule-on and " +
    "rule-off (excludedRules) agree on a corpus with null, empty, " +
    "short and normal docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "   "), (4L, "one"), (5L, "one two"),
      (6L, "one two three"), (7L, "a b c d e f g"),
      (8L, "x x x x x x x x"))
      .toDF("doc_id", "text")
    def run(): Array[String] = {
      val pairs = graft.llm.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", shingleSize = 3,
          threshold = 0.0)
        .orderBy("id_a", "id_b").collect().map(_.toString)
      val novel = graft.llm.Dedup
        .minhashNovel(docs, "doc_id", "text", shortDocs = "novel")
        .orderBy("doc_id").collect().map(_.toString)
      pairs ++ Array("--") ++ novel
    }
    val withRule = run()
    val ruleName = graft.plans.SimplifyKernelPredicates.ruleName
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val withoutRule = run()
      assert(withRule.toSeq == withoutRule.toSeq)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("full-PSL registered domain is MAP-ONLY: every rule-class join " +
    "broadcasts, nothing corpus-sized shuffles") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val hosts = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(lit("www."), col("source"), lit(".example.co.uk"))
          .as("host"))
    val df = graft.llm.Url.registeredDomainPslFull(hosts, "host",
      graft.llm.Url.pslFullRules)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the corpus side must never hit an exchange: no shuffle join, no
    // repartition — the 9.5k-rule tables ride broadcast only
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("every unpartitioned Window in the battery sits above a " +
    "provably bounded frame (round-12 verdict pin)") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, GlobalLimit, LocalRelation, LogicalPlan,
      Project, Sort, SubqueryAlias, Window}
    // A Window with an empty partition spec sorts its whole input into
    // ONE task — a scale-killer over anything corpus-sized. Every
    // occurrence must either (a) sit directly above a GlobalLimit /
    // LocalRelation (top-k or VALUES-sized frame, checked
    // mechanically), or (b) belong to a query on this allowlist, each
    // entry carrying the size argument that bounds the frame. A NEW
    // unpartitioned window anywhere else fails here, not on a cluster.
    val bounded: Map[String, String] = Map(
      "q_adjacent_drift" -> ("lag over one histogram row per hour " +
        "(an 8-bin map each) - cardinality = hours, corpus-independent"),
      "q_lm_buckets" -> ("two-level global rank: the unpartitioned " +
        "cumsum runs over the k x bucket CELL table (Ops." +
        "globalRankBuckets), never the scored corpus"),
      "q_negative_sample" -> ("bucket-offset cumsum over the `coarse`" +
        "-cell count table (negativeSample's two-level draw)"),
      "q_vocab_stats" -> ("rank + cumulative coverage over the " +
        "top-V (<= 100) vocab join - both join sides GlobalLimit'd"))
    // descend through non-expanding unary nodes to the first
    // size-determining producer
    @scala.annotation.tailrec
    def producer(lp: LogicalPlan): LogicalPlan = lp match {
      case Project(_, c)       => producer(c)
      case Filter(_, c)        => producer(c)
      case Sort(_, _, c, _)    => producer(c)
      case SubqueryAlias(_, c) => producer(c)
      case other               => other
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val usedAllowlist = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = try battery(q).qe.get.optimizedPlan
      catch {
        case e: Throwable => fail(s"$q failed to plan: ${e.getMessage}")
      }
      def sweep(lp: LogicalPlan): Unit = {
        lp.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            val ok = producer(w.child) match {
              case _: GlobalLimit | _: LocalRelation => true
              case _ =>
                if (bounded.contains(q)) usedAllowlist += q
                bounded.contains(q)
            }
            if (!ok) offenders +=
              s"$q: unpartitioned Window over ${producer(w.child).nodeName}"
          case _ => ()
        }
        lp.subqueries.foreach(sweep)
      }
      sweep(p)
    }
    assert(offenders.isEmpty,
      "unpartitioned Window over an unbounded frame (add a partition " +
        "key, a top-k cut, or an allowlist entry WITH a size " +
        s"argument):\n${offenders.mkString("\n")}")
    // allowlist hygiene: an entry whose query no longer plans an
    // unpartitioned non-limit window is stale ledger — retire it
    assert(bounded.keySet == usedAllowlist.toSet,
      s"stale allowlist entries: ${bounded.keySet -- usedAllowlist}")
  }
}
