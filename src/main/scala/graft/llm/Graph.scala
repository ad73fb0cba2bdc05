package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** Graph centrality over corpus-derived graphs — the quality-weighting
  * leg of web-corpus curation (Common Crawl ranks hosts by centrality
  * before sampling; OpenWebText-style pipelines weight domains by link
  * authority). The engine keeps the graph relational: an edge frame
  * (src, dst [, weight]) is all there is, and one PageRank iteration is
  * one join + one aggregation — both keyed on node ids, so at cluster
  * scale each iteration is a single shuffle of the edge frame against
  * the rank frame (edges dominate; ranks are |V| rows). No
  * vertex-program runtime, no driver-side graph.
  *
  * Determinism — integer fixed-point PageRank: ranks are longs scaled
  * by `scale` (default 1e9 = 9 fractional digits). One iteration:
  *
  *   contrib(u→v) = (r(u) · w(u,v)) div outw(u)        (floor division)
  *   r'(v)        = base + (Σ_u contrib(u→v) · dampNum) div dampDen
  *   base         = ((dampDen − dampNum) · scale) div dampDen
  *
  * Every op is exact integer arithmetic, so the result is independent
  * of partitioning, join order and summation order — and replays
  * bit-for-bit in any SQL engine by unrolling the iterations
  * (q_pagerank hash-matches a DuckDB replay). Dangling nodes (no
  * out-edges) leak their damped mass each iteration — the classic
  * simplification; the (1−d) base term keeps every node positive. The
  * per-edge floor drops < 1/scale of mass per in-edge (the fixed-point
  * quantum), which is what buys order-independence: float PageRank sums
  * in whatever order the shuffle delivers.
  *
  * Overflow: ANSI mode (on by default in Spark 4) makes any long
  * overflow an error rather than silent wrap. Bound to respect:
  * max_v r(v) · max w ≲ 9.2e18; total mass is ≤ |V| · scale, so at
  * 1e9 nodes drop `scale` to 1e6 (the scaladoc of [[pageRank]]'s
  * `scale` param). The DuckDB replay sums in HUGEINT and casts back.
  */
object Graph {

  /** pageRank truncates every 4th level: its plan grows only linearly,
    * and a per-level checkpoint cost q_pagerank_docs 2.4 -> 3.2 s. */
  private val PageRankTruncateEvery = 4

  /** Edge-weight ingestion shared by the three weighted walks: the
    * fixed-point integer arithmetic needs LONG weights, and a silent
    * cast("long") truncated fractional weights to 0 — a similarity-
    * weighted graph (jaccard/cosine in (0,1), the natural output of
    * the pair generators) then divides by a zero out-weight (ANSI
    * DIVIDE_BY_ZERO deep in iteration 1) or yields NaN probabilities.
    * Refuse loudly instead; callers pre-scale fractional weights to
    * fixed-point (e.g. floor(jaccard * 1e6)). */
  private def integralWeight(c: Column, who: String): Column =
    when(c.isNull || c.cast("double") <= 0.0 ||
      c.cast("double") =!= floor(c.cast("double")),
      raise_error(concat(
        lit(s"Graph.$who: edge weight must be a positive integer " +
          "(pre-scale fractional similarity weights to fixed-point, " +
          "e.g. floor(w * 1e6)); got "), c.cast("string"))).cast("long"))
      .otherwise(c.cast("long"))

  /** Weighted PageRank over an edge DataFrame. Multi-edges collapse by
    * summed weight first (weight defaults to 1 per edge row when
    * `weightCol` is None). Returns (node, rank) covering every node
    * that appears as a src or dst; ranks are fixed-point longs
    * (rank/scale ≈ the float PageRank value under the unnormalized
    * "every node starts at 1.0" convention). The result is an eager
    * local checkpoint, and every frame the call persists is released
    * before it returns, so a second identical call recomputes instead
    * of reading the first call's caches.
    *
    * @param iters full power iterations (each = 1 join + 1 groupBy);
    *              iters = 0 returns the uniform start vector.
    * @param scale fixed-point denominator; lower it when |V| · scale
    *              approaches 9.2e18 (see object scaladoc).
    * @param seeds personalized PageRank: when set (a 1-column frame of
    *              node ids), the teleport `base` term lands ONLY on
    *              seed nodes — authority flows out from the trusted
    *              set (the domain-whitelist weighting used in
    *              web-corpus curation). Non-seed nodes keep only their
    *              damped in-flow; the start vector stays uniform (any
    *              start converges, and uniform keeps iters = 0
    *              meaningful). None = every node teleports (classic). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None, iters: Int = 3,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000L,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen: $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive: $scale")

    val w = weightCol.map(c => integralWeight(col(c), "pageRank"))
      .getOrElse(lit(1L))
    // persist the collapsed edge frame FIRST: outw, ej and the (src ∪
    // dst) node scan each traverse it, and the caller's `edges` plan can
    // be expensive (q_pagerank_docs feeds a full ngram-Jaccard pair
    // generation — without this persist that subtree re-ran up to 8×,
    // measured 3.5s → 1.4s at sf0.1)
    val grouped = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
      .groupBy("__src", "__dst").agg(sum("__w").as("__w"))
    Ops.withPersisted(grouped) { e0 =>
      val outw = e0.groupBy("__src").agg(sum("__w").as("__ow"))
      val nodes0 = e0.select(col("__src").as("node"))
        .union(e0.select(col("__dst").as("node")))
        .distinct()
      val base = ((dampDen - dampNum) * scale) / dampDen // exact: ints
      // per-node teleport term: `base` everywhere (classic) or only on
      // the seed set (personalized) — joined once, rides the rank frame
      val withBase = seeds match {
        case Some(sd) =>
          val sdf = sd.toDF("node").distinct()
          nodes0.join(sdf.withColumn("__seed", lit(true)), Seq("node"),
            "left")
            .select(col("node"),
              when(col("__seed"), lit(base)).otherwise(lit(0L))
                .as("__base"))
        case None => nodes0.withColumn("__base", lit(base))
      }
      // edge frame pre-joined with its src's out-weight: reused every
      // iteration (at cluster scale this is the big frame — one shuffle
      // to build, then each iteration joins it against the |V|-row
      // rank frame)
      Ops.withPersisted(e0.join(outw, "__src")) { ej =>
        Ops.withPersisted(withBase) { nodes =>
          var ranks = nodes.select(col("node"), lit(scale).as("rank"))
          for (i <- 1 to iters) {
            val sums = ej.join(ranks, ej("__src") === ranks("node"))
              .select(col("__dst"),
                expr("(rank * __w) div __ow").as("__c"))
              .groupBy("__dst").agg(sum("__c").as("__s"))
            val next = nodes.join(sums, nodes("node") === sums("__dst"),
              "left")
              .select(col("node"),
                (col("__base") + coalesce(
                  expr(s"(__s * $dampNum) div $dampDen"), lit(0L)))
                  .as("rank"))
            ranks =
              if (i < iters && i % PageRankTruncateEvery == 0)
                next.localCheckpoint()
              else next
          }
          ranks.localCheckpoint()
        }
      }
    }
  }

  /** Per-user event-type transition edges — the click-graph builder:
    * order each user's events by (orderCols), every consecutive pair
    * (previous type → type) is one edge row. Feed to [[pageRank]] for
    * "which states do journeys concentrate on". The lag window is keyed
    * by user, so at scale it shuffles once on user_id and each
    * partition sorts only its own users' rows. */
  def transitionEdges(events: DataFrame, userCol: String, typeCol: String,
                      orderCols: Seq[Column]): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(orderCols: _*)
    events
      .select(col(userCol),
        lag(col(typeCol), 1).over(byUser).as("src"),
        col(typeCol).as("dst"))
      .filter(col("src").isNotNull)
      .select("src", "dst")
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) — the second classic
    * centrality, in the same exact-integer discipline as [[pageRank]]:
    * per iteration `a(v) = Σ_{u→v} w·h(u)` then `h(u) = Σ_{u→v} w·a(v)`
    * (the updated a — Kleinberg's sequential order), each rescaled by
    * its MAX via floor division (`r' = (r · scale) div max r`) so the
    * top score pins to `scale` and every op stays exact integer
    * arithmetic — partitioning-independent, SQL-replayable with
    * unrolled iterations (q_hits). Each iteration: two edge⋈rank
    * joins + two node-keyed aggregates + two single-row max frames
    * (broadcast). Nodes without in-edges get authority 0; without
    * out-edges hub 0. Start: h = scale everywhere.
    *
    * Output: (node, hub, authority) as fixed-point longs, joined from
    * the last level's two local checkpoints; the frames the call
    * persists are released before it returns. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: Option[String] = None, iters: Int = 2,
           scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    val w = weightCol.map(c => integralWeight(col(c), "hits"))
      .getOrElse(lit(1L))
    val grouped = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
      .groupBy("__src", "__dst").agg(sum("__w").as("__w"))
    Ops.withPersisted(grouped) { e0 =>
      val allNodes = e0.select(col("__src").as("node"))
        .union(e0.select(col("__dst").as("node")))
        .distinct()
      Ops.withPersisted(allNodes) { nodes =>
        // rescale a raw score frame (node, __r DECIMAL) to max = scale,
        // keeping node coverage complete (missing nodes -> 0). Raw mass
        // and the rescale multiply run in exact DECIMAL(38,0) — rank·w
        // sums and r·scale both overflow longs on heavy graphs — and the
        // integral `div` lands the result back in the long domain
        // exactly (the DuckDB replay does the same arithmetic in HUGEINT).
        def rescaled(raw: DataFrame): DataFrame = {
          val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
          val full = nodes.join(raw, Seq("node"), "left")
            .select(col("node"), coalesce(col("__r"), zero).as("__r"))
          val mx = full.agg(max("__r").as("__mx"))
          full.crossJoin(broadcast(mx))
            .select(col("node"),
              when(col("__mx") > 0,
                expr(s"(__r * $scale) div __mx")).otherwise(lit(0L))
                .as("rank"))
        }
        def massToward(ranks: DataFrame, edgeEnd: String, groupEnd: String)
            : DataFrame =
          e0.join(ranks, e0(edgeEnd) === ranks("node"))
            .select(col(groupEnd).as("node"),
              (col("rank").cast("decimal(38,0)") * col("__w")).as("__c"))
            .groupBy("node").agg(sum("__c").as("__r"))

        // checkpoint both frames every level: each rescale reads its
        // input twice, so the plan would grow ~4x per iteration
        var hubs = nodes.select(col("node"), lit(scale).as("rank"))
        var auths: DataFrame = null
        for (_ <- 1 to iters) {
          auths = rescaled(massToward(hubs, "__src", "__dst")).localCheckpoint()
          hubs = rescaled(massToward(auths, "__dst", "__src")).localCheckpoint()
        }
        // both checkpoints hold every node exactly once, so the result
        // needs neither persisted input
        hubs.withColumnRenamed("rank", "hub")
          .join(auths.withColumnRenamed("rank", "authority"), "node")
      }
    }
  }

  /** Markov transition matrix of an edge frame: per (src, dst) the
    * summed weight and the transition probability w / Σ_dst w — one
    * IEEE double division per cell (exact-replay rule: both engines
    * divide the same exact integer counts once). Output:
    * (src, dst, w, p). One groupBy + one src-keyed aggregate. */
  def transitionCounts(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(c => integralWeight(col(c), "transitionCounts"))
      .getOrElse(lit(1L))
    val e0 = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("__w"))
      .groupBy("src", "dst").agg(sum("__w").as("w"))
    val tot = e0.groupBy("src").agg(sum("w").as("__tot"))
    e0.join(tot, "src")
      .select(col("src"), col("dst"), col("w"),
        (col("w").cast("double") / col("__tot").cast("double")).as("p"))
  }
}
