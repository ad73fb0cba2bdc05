package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus distribution drift — EXACT total-variation distance between the
  * token distributions of two corpus snapshots, plus the per-token drift
  * decomposition. The monitoring leg of a training-data pipeline: a new
  * crawl whose unigram distribution has drifted from the reference corpus
  * (new boilerplate, a source gone spammy, a language-mix shift) should
  * trip an alert BEFORE it trains a model. Reference precedent for
  * corpus-level quality gating: config.sample.processor.yml operator
  * chains; the distance itself is the classic statistical-distance choice
  * because it is the only common one that needs NO logs or square roots —
  * every intermediate here is an exact integer.
  *
  * TVD(P, Q) = 1/2 · Σ_t |P(t) − Q(t)| with P(t) = c_a(t)/n_a,
  * Q(t) = c_b(t)/n_b. Cross-multiplying clears the denominators:
  *
  *   numerator(t) = |c_a(t)·n_b − c_b(t)·n_a|   (exact integer)
  *   TVD = Σ_t numerator(t) / (2·n_a·n_b)       (one cast + one division)
  *
  * so the whole statistic is exact-integer arithmetic (decimal(38,0) —
  * counts up to 10^13 tokens per side cross-multiply to 10^26, well inside
  * decimal range; overflow is LOUD under ANSI) followed by a single
  * deterministic decimal→double cast and one IEEE division, spelled
  * identically in the oracle — bit-exact in any engine (q_token_drift,
  * q_drift_top).
  *
  * Scale: token counting is the shuffle-linear map-side-combined aggregate
  * (the [[TextStats.repetition]] shape); the join is vocab-sized (distinct
  * tokens, ≪ corpus), totals ride as broadcast 1-row frames. Nothing
  * corpus-sized crosses an exchange after the per-side count tables.
  * At truly unbounded vocab (adversarial token soup) use the hashed
  * [[bucketCounts]] twin whose state is capped at `buckets` rows and whose
  * TVD lower-bounds the exact one (every merge of two tokens into one
  * bucket can only cancel mass — pinned by DriftSpec). */
object Drift {

  /** Per-token counts of one snapshot: (token, cnt). Whitespace tokens,
    * lowercased — the [[Text.tokens]] convention every text stat shares. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Hashed-bucket counts: (bucket, cnt) with bucket =
    * pmod(xxhash64(seed, token), buckets) — the bounded-state twin (the
    * DSIR hashed-bag trick). Collisions merge tokens; the resulting TVD
    * is a LOWER bound on the exact one. */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int,
                   seed: Int = 0): DataFrame = {
    require(buckets >= 1, s"bucketCounts: buckets must be >= 1: $buckets")
    df.select(explode(Text.tokens(col(textCol))).as("__tok"))
      .select(pmod(xxhash64(lit(seed), col("__tok")), lit(buckets.toLong))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** One-row exact TVD between two count tables (`keyCol`, `cnt`) as
    * produced by [[tokenCounts]]/[[bucketCounts]]: n_a, n_b (total token
    * counts), tvd_num (Σ numerator, exact decimal cast to double — the
    * deterministic one-cast recipe), tvd ∈ [0, 1]. An EMPTY side is
    * refused loudly (its distribution is undefined, and a silent NaN
    * would sail through a monitoring dashboard). */
  def driftFromCounts(ca: DataFrame, cb: DataFrame, keyCol: String)
      : DataFrame = {
    val joined = countsJoined(ca, cb, keyCol)
    joined
      .agg(sum(col("__num")).as("__tvd_num"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        col("__tvd_num").cast("double").as("tvd_num"),
        (col("__tvd_num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") *
            col("n_b").cast("double"))).as("tvd"))
  }

  /** Exact TVD between the token distributions of two document frames —
    * [[tokenCounts]] on each side + [[driftFromCounts]]. */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    driftFromCounts(tokenCounts(a, textCol), tokenCounts(b, textCol),
      "token")

  /** Top-k drift CONTRIBUTORS: the tokens whose share moved most between
    * the snapshots — ranked by the exact integer numerator
    * |c_a·n_b − c_b·n_a| desc (ties token asc — deterministic), with the
    * per-side counts and which side over-represents (`heavier` = 'a',
    * 'b', or '=' when shares agree exactly). The triage view a drift
    * alert links to. */
  def driftTop(a: DataFrame, b: DataFrame, textCol: String, k: Int)
      : DataFrame = {
    require(k >= 1, s"driftTop: k must be >= 1: $k")
    countsJoined(tokenCounts(a, textCol), tokenCounts(b, textCol), "token")
      .withColumn("heavier",
        when(col("__lhs") > col("__rhs"), lit("a"))
          .when(col("__lhs") < col("__rhs"), lit("b"))
          .otherwise(lit("=")))
      .orderBy(col("__num").desc, col("token"))
      .limit(k)
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        col("__num").cast("double").as("drift_num"), col("heavier"))
  }

  /** Fixed-bin histogram counts of a NUMERIC column: (bucket, cnt) with
    * bucket = floor((x − lo) / (hi − lo) · bins) clamped to [0, bins−1]
    * — three IEEE ops + a monotone floor, so any engine reproduces the
    * binning (the [[graft.operators.Ops.globalRankBuckets]] cell trick).
    * Feed two sides to [[driftFromCounts]] for NUMERIC distribution
    * drift (doc lengths, scores, embedding norms) — the PSI-style
    * monitor, TVD instead of PSI because it needs no logs. NULL values
    * are refused (a silently vanishing NULL would understate drift). */
  def binCounts(df: DataFrame, valueCol: Column, bins: Int,
                lo: Double, hi: Double): DataFrame = {
    require(bins >= 1, s"binCounts: bins must be >= 1: $bins")
    require(lo < hi, s"binCounts: need lo < hi: $lo, $hi")
    // NaN would floor to NULL and silently pool in a NULL bucket —
    // refuse it like NULL (a poisoned feature column should fail the
    // monitor, not skew it)
    val x = when(valueCol.isNull || isnan(valueCol.cast("double")),
      raise_error(lit("binCounts: NULL value")))
      .otherwise(valueCol.cast("double"))
    df.select(least(greatest(
        floor((x - lit(lo)) / lit(hi - lo) * lit(bins.toDouble)), lit(0L)),
        lit(bins - 1L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Numeric distribution drift: exact TVD between the fixed-bin
    * histograms of `valueCol` on the two sides. */
  def histDrift(a: DataFrame, b: DataFrame, valueCol: Column, bins: Int,
                lo: Double, hi: Double): DataFrame =
    driftFromCounts(binCounts(a, valueCol, bins, lo, hi),
      binCounts(b, valueCol, bins, lo, hi), "bucket")

  /** PER-STRATUM drift: the TVD of each stratum's token distribution
    * against a REFERENCE corpus — the "which source went bad" answer a
    * corpus-wide [[tokenDrift]] alert needs next. One row per stratum:
    * (stratum, n_a = stratum tokens, n_b = reference tokens, tvd_num,
    * tvd), the [[driftFromCounts]] arithmetic per stratum (DriftSpec
    * parity pin).
    *
    * No per-stratum grid and no vocab broadcast: a LEFT join from the
    * (stratum, token) counts to the reference counts (one token-keyed
    * shuffle, linear) covers tokens the stratum has; the reference-only
    * mass follows from totals —
    *
    *   Σ_{t∉stratum} r(t)·n_s  =  n_s · (n_ref − Σ_{t∈stratum} r(t))
    *
    * so two per-stratum sums close the full-outer without materializing
    * it. NULL strata are refused ([[graft.operators.Ops]] NULL-key
    * contract). */
  def driftByStratum(df: DataFrame, stratumCol: String, textCol: String,
                     ref: DataFrame, refTextCol: String): DataFrame = {
    val dec = "decimal(18,0)"
    // both count frames feed a totals aggregate AND the vocab join; each
    // ends in an aggregate exchange that the plan reuses, so each corpus
    // side tokenizes once without a cache (the Ops.withPersisted rule)
    val sc = df.select(
        when(col(stratumCol).isNull,
          raise_error(lit("driftByStratum: NULL stratum")))
          .otherwise(col(stratumCol)).as("stratum"),
        explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("stratum", "token").agg(count(lit(1)).as("cnt_a"))
    val rc = tokenCounts(ref, refTextCol).withColumnRenamed("cnt", "cnt_b")
    val refTot = rc.agg(coalesce(sum(col("cnt_b")),
      raise_error(lit("driftByStratum: empty reference"))).as("n_b"))
    val sTot = sc.groupBy("stratum").agg(sum(col("cnt_a")).as("n_a"))
    sc.join(rc, Seq("token"), "left")
      .na.fill(0L, Seq("cnt_b"))
      .join(broadcast(sTot), Seq("stratum"))
      .crossJoin(broadcast(refTot))
      .withColumn("__num", abs(
        col("cnt_a").cast(dec) * col("n_b").cast(dec) -
          col("cnt_b").cast(dec) * col("n_a").cast(dec))
        .cast("decimal(38,0)"))
      .groupBy("stratum")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("__num")).as("__s1"),
        sum(col("cnt_b").cast(dec)).as("__m"))
      // + the reference-only mass: n_a · (n_ref − matched ref counts)
      .withColumn("__tvd_num",
        (col("__s1") + col("n_a").cast(dec) *
          (col("n_b").cast(dec) - col("__m"))).cast("decimal(38,0)"))
      .select(col("stratum"), col("n_a"), col("n_b"),
        col("__tvd_num").cast("double").as("tvd_num"),
        (col("__tvd_num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") *
            col("n_b").cast("double"))).as("tvd"))
  }

  /** Adjacent-window SELF-drift — changepoint detection without a
    * reference: given a per-window count table `(window_start, bucket,
    * cnt)` (the [[graft.streaming.ops.DriftOp]] cell product, or
    * [[binCounts]] grouped by a window column), the exact TVD between
    * each window and the PREVIOUS present window. A spike in the series
    * marks the hour the corpus changed. Adjacency is by order over the
    * PRESENT windows (an empty hour doesn't break the chain — the next
    * present window compares against the last one that had data).
    *
    * One aggregate folds each window's cells into a histogram row
    * ([[histograms]]: bucket → cnt map, total, NULL-bucket mass); a
    * `lag` over those rows — one per window, so the unpartitioned
    * window sorts windows, not cells — pairs each with its
    * predecessor, and [[histNum]] folds the pair's numerator in one
    * pass over the two maps. No join: the cells are traversed once.
    * `cells` must be a count table (one row per (window_start,
    * bucket)); a repeated bucket is refused by the map build. Output:
    * (window_start, prev_start, n_a = window tokens, n_b = previous
    * window's, tvd_num, tvd) — the [[driftFromCounts]] arithmetic per
    * pair (DriftSpec pin), a NULL bucket unmatched on both sides as in
    * its join. */
  def adjacentDrift(cells: DataFrame): DataFrame = {
    // a NULL window would sort first and silently pair with the real
    // first window — refuse it (the Ops NULL-key contract)
    val perWindow = histograms(cells
      .withColumn("window_start", when(col("window_start").isNull,
        raise_error(lit("adjacentDrift: NULL window_start")))
        .otherwise(col("window_start"))), Seq(col("window_start")))
    val w = Window.orderBy(col("window_start"))
    perWindow
      .select(col("window_start"),
        lag(col("window_start"), 1).over(w).as("prev_start"),
        col("__n").as("n_a"), lag(col("__n"), 1).over(w).as("n_b"),
        col("__h").as("__ha"), lag(col("__h"), 1).over(w).as("__hb"),
        col("__null").as("__null_a"),
        lag(col("__null"), 1).over(w).as("__null_b"))
      .filter(col("prev_start").isNotNull)
      .withColumn("__tvd_num", histNum(col("__ha"), col("__null_a"),
        col("n_a"), col("__hb"), col("__null_b"), col("n_b")))
      .select(col("window_start"), col("prev_start"), col("n_a"),
        col("n_b"),
        col("__tvd_num").cast("double").as("tvd_num"),
        (col("__tvd_num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") *
            col("n_b").cast("double"))).as("tvd"))
  }

  /** One histogram row per `keys` group of a count table (`bucket`,
    * `cnt`): `__h` = map bucket → cnt over the non-NULL buckets, `__null`
    * = the NULL-bucket mass (0 when none; a map key cannot be NULL, and
    * a NULL key matches nothing in a join, so it is carried apart) and
    * `__n` = Σ cnt. No `keys` gives the one-row histogram of the table;
    * an empty table then has `__n` NULL. */
  private[graft] def histograms(cells: DataFrame, keys: Seq[Column])
      : DataFrame = {
    cells.groupBy(keys: _*).agg(
      map_from_entries(collect_list(when(col("bucket").isNotNull,
        struct(col("bucket"), col("cnt"))))).as("__h"),
      coalesce(sum(when(col("bucket").isNull, col("cnt"))), lit(0L))
        .as("__null"),
      sum(col("cnt")).as("__n"))
  }

  /** The exact TVD numerator of two [[histograms]] rows,
    * Σ_k |a[k]·n_b − b[k]·n_a| over the union of the two maps' keys (a
    * key missing from one side reads 0 there) plus each side's
    * NULL-bucket mass, which no key matches (`nullA`·n_b + `nullB`·n_a)
    * — the full-outer count join of [[driftFromCounts]] for one pair of
    * bounded histograms, in exact decimal(38,0) over the same
    * decimal(18,0) operands. `map_zip_with` pairs the maps by key in one
    * hashed pass, so the fold is linear in the buckets (a per-key
    * `element_at` would scan the map for every key). */
  private[graft] def histNum(a: Column, nullA: Column, nA: Column,
                             b: Column, nullB: Column, nB: Column)
      : Column = {
    val dec = "decimal(18,0)"
    val dec38 = "decimal(38,0)"
    val matched = aggregate(
      map_values(map_zip_with(a, b, (_, ca, cb) =>
        abs(coalesce(ca, lit(0L)).cast(dec) * nB.cast(dec) -
          coalesce(cb, lit(0L)).cast(dec) * nA.cast(dec)).cast(dec38))),
      lit(0).cast(dec38), (acc, x) => (acc + x).cast(dec38))
    (matched + nullA.cast(dec) * nB.cast(dec) +
      nullB.cast(dec) * nA.cast(dec)).cast(dec38)
  }

  /** Full-outer count join with broadcast totals: one row per key seen on
    * either side, with cnt_a/cnt_b (0 where absent), n_a/n_b totals, the
    * cross-multiplied shares __lhs/__rhs and |difference| __num — all
    * exact decimal(38,0). */
  private def countsJoined(ca: DataFrame, cb: DataFrame, keyCol: String)
      : DataFrame = {
    val dec = "decimal(18,0)"
    // total tokens per side; raise on an empty side (sum over zero rows
    // is NULL — a distribution over nothing has no TVD)
    def total(c: DataFrame, name: String): DataFrame =
      c.agg(coalesce(sum(col("cnt")),
        raise_error(lit(s"drift: empty side $name"))).as(name))
    val a = ca.withColumnRenamed("cnt", "cnt_a")
    val b = cb.withColumnRenamed("cnt", "cnt_b")
    a.join(b, Seq(keyCol), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .crossJoin(broadcast(total(ca, "n_a")))
      .crossJoin(broadcast(total(cb, "n_b")))
      .withColumn("__lhs",
        col("cnt_a").cast(dec) * col("n_b").cast(dec))
      .withColumn("__rhs",
        col("cnt_b").cast(dec) * col("n_a").cast(dec))
      .withColumn("__num",
        abs(col("__lhs") - col("__rhs")).cast("decimal(38,0)"))
  }
}
