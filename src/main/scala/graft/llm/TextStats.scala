package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus-level text statistics beyond the per-row [[Text]] metrics —
  * the repetition-family quality signals of large-scale pre-training
  * filters (the "fraction of the doc that is its most common token /
  * duplicated content" family popularized by the Gopher/MassiveText
  * filtering rules; reference precedent for quality gating:
  * config.sample.processor.yml operator chains).
  *
  * Relational formulation on purpose: explode → two-level aggregate is
  * shuffle-linear with map-side combine (the (id, token) partial counts
  * collapse before the exchange), distributed across any corpus size,
  * and exactly reproducible by any SQL engine (oracled as
  * q_repetition). */
object TextStats {

  /** Per-document token-repetition signals:
    * n_tokens (with multiplicity), n_distinct, top_freq (count of the
    * modal token), rep_ratio = top_freq / n_tokens, distinct_ratio =
    * n_distinct / n_tokens. High rep_ratio / low distinct_ratio flags
    * boilerplate and keyword-stuffed documents. Docs with no tokens
    * yield no row (no tokens to measure — filter upstream if empty docs
    * must be flagged). */
  def repetition(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol), explode(Text.tokens(col(textCol))).as("__tok"))
      .groupBy(idCol, "__tok").agg(count(lit(1)).as("__cnt"))
      .groupBy(idCol).agg(
        sum("__cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("__cnt").as("top_freq"))
      .withColumn("rep_ratio",
        col("top_freq").cast("double") / col("n_tokens"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))

  /** Corpus-trained unigram-likelihood quality score — the
    * CCNet/KenLM "how typical is this text under the corpus's own
    * language model" family, formulated LOG-FREE so it is bit-exact
    * across engines: train token counts on the corpus itself, keep the
    * top-`topV` vocabulary (ties broken by token asc — deterministic),
    * add-one smooth, and score each document by the mean smoothed
    * vocabulary frequency of its tokens,
    *
    *   score = Σ_i (c(t_i) + 1) / (n_doc · (C + V))
    *
    * where c(t) = vocab count (0 for OOV — the add-one keeps a
    * 1/(C+V) floor), C = Σ vocab counts, V = vocab size. Every
    * intermediate is an integer sum (exact in any engine); the single
    * double op is the final division — oracled bit-exactly
    * (q_unigram_lik). Low score ⇒ rare/garbled vocabulary; `n_oov`
    * flags tokenizer-hostile docs directly.
    *
    * Scale: token counting is a shuffle-linear map-side-combined agg;
    * the vocabulary is a bounded top-V (TakeOrderedAndProject) and is
    * BROADCAST to the scoring join together with the 1-row (C, V)
    * totals, so the corpus itself is scored in one map pass — no
    * corpus-side shuffle beyond the per-doc aggregate at any size.
    * (n_doc·(C+V) stays far below 2^63 for any realistic corpus:
    * C ≈ 10^13 tokens at 100 TB × n_doc ≤ 10^5 ≈ 10^18.)
    * Docs with no tokens yield no row, like [[repetition]]. */
  def unigramLikelihood(df: DataFrame, idCol: String, textCol: String,
      topV: Int = 10000): DataFrame = {
    require(topV > 0, "topV must be positive")
    val toks = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("__tok"))
    val vocab = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok").asc).limit(topV)
    val totals = vocab.agg(sum("__c").as("__C"), count(lit(1)).as("__V"))
    toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("__c"), lit(0L)) + 1L).as("__s"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (col("__s") / (col("n_tokens") * (col("__C") + col("__V"))))
          .as("score"))
  }

  /** Gopher/MassiveText-style per-document quality rule signals (Rae et
    * al. 2021, Appendix A) — the remaining rule family beside
    * [[Text.qualityScore]] (length/punct/stopword) and [[repetition]]
    * (dup-content ratios): word-shape fractions and the small-stopword
    * evidence bit, plus the combined keep decision. Pure Column
    * expressions over one materialized token array — per-row, codegen'd,
    * embarrassingly parallel; thresholds are the published Gopher
    * constants, documented as the operator contract's defaults (a
    * production filter tunes them at this seam).
    *
    * Signals: `n_tokens`, `mean_token_len`, `frac_alpha_words` (tokens
    * containing a letter), `frac_symbol_words` (hash/ellipsis tokens),
    * `frac_numeric_words` (all-digit tokens), `n_stop_hits` (occurrences
    * from a tiny common-word set), and `gopher_keep`:
    * 50 ≤ n_tokens ≤ 100k, 3 ≤ mean_token_len ≤ 10,
    * frac_alpha_words ≥ 0.8, frac_symbol_words ≤ 0.1, n_stop_hits ≥ 2. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol), Text.tokens(col(textCol)).as("__ts"))
      .select(
        col(idCol),
        Text.nTokensOf(col("__ts")).cast("long").as("n_tokens"),
        Text.meanTokenLenOf(col("__ts")).as("mean_token_len"),
        fracAlphaOf(col("__ts")).as("frac_alpha_words"),
        fracSymbolOf(col("__ts")).as("frac_symbol_words"),
        (size(filter(col("__ts"), t => t.rlike("^[0-9]+$")))
          .cast("double") / size(col("__ts"))).as("frac_numeric_words"),
        nStopHitsOf(col("__ts")).as("n_stop_hits"))
      // keep derived from the ALREADY-COMPUTED metric columns — the
      // HOF metric lambdas are excluded from subexpression elimination,
      // so re-instantiating them in the predicate would run each
      // array pass twice per document
      .withColumn("gopher_keep", gopherKeep(
        col("n_tokens"), col("mean_token_len"), col("frac_alpha_words"),
        col("frac_symbol_words"), col("n_stop_hits")))

  /** The Gopher gate thresholds over already-computed metric columns —
    * the single home of the constants (published Gopher defaults). */
  def gopherKeep(nTokens: Column, meanLen: Column, fracAlpha: Column,
                 fracSym: Column, stopHits: Column): Column =
    nTokens >= 50L && nTokens <= 100000L &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      fracAlpha >= 0.8 && fracSym <= 0.1 && stopHits >= 2L

  /** The `gopher_keep` decision as ONE Column over a MATERIALIZED token
    * array (thresholds via [[gopherKeep]]). For inline use in composed
    * pipelines, where a per-doc metrics frame joined back on the id
    * would be an avoidable corpus-sized shuffle. `ts` must be a column
    * attribute, not an inline `Text.tokens(...)` call (multi-referenced
    * here; see the lambda-body discipline note on
    * [[graft.functions.Text.shinglesFromTokens]]). */
  def gopherKeepOf(ts: Column): Column =
    gopherKeep(size(ts).cast("long"), Text.meanTokenLenOf(ts),
      fracAlphaOf(ts), fracSymbolOf(ts), nStopHitsOf(ts))

  private def gopherStops = array(Seq("the", "be", "to", "of", "and",
    "that", "have", "with").map(lit): _*)

  private def fracAlphaOf(ts: Column): Column =
    size(filter(ts, t => t.rlike("[a-z]"))).cast("double") / size(ts)

  private def fracSymbolOf(ts: Column): Column =
    size(filter(ts, t => t.contains("#") || t.contains("...")))
      .cast("double") / size(ts)

  private def nStopHitsOf(ts: Column): Column =
    size(filter(ts, t => array_contains(gopherStops, t))).cast("long")

  /** Per-document top-`topN` terms by tf-idf — the corpus-level term
    * salience operator (keyword extraction, near-dup explanation, index
    * pruning). Formulated LOG-FREE for cross-engine exactness: the idf
    * factor is the linear odds N/df (rank-equivalent to log idf within a
    * document — log is monotone — so the SELECTED terms match the classic
    * scoring; swap in log((N+1)/(df+1)) at this seam when absolute scores
    * must be BM25-comparable),
    *
    *   score = (tf · N) / df     — integer product, ONE double division.
    *
    * Scale shape: term counting is the shuffle-linear map-side-combined
    * two-level aggregate; document frequency reuses the (doc, term) frame
    * (one extra agg, no re-tokenization); N rides as a broadcast 1-row
    * frame (no driver action, stays in-plan); ranking is a window keyed
    * by document — partitions bounded by per-doc vocabulary, never corpus
    * size. Ties break by term asc (deterministic). */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String,
               topN: Int = 3): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    // tf feeds BOTH the document-frequency aggregate and the scoring
    // join; its aggregate exchange is reused, so the corpus
    // tokenize+explode runs once without a cache (the Ops.withPersisted
    // rule)
    val tf = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    // count_if(tf > 0) equals count(1) (tf >= 1) but reads tf, so column
    // pruning leaves this branch's tf aggregate — and exchange —
    // identical to the scoring join's
    val dfreq = tf.groupBy("term").agg(count_if(col("tf") > 0).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"),
        col("rank"))
  }

  /** Bigram language-model quality score — the conditional-probability
    * sibling of [[unigramLikelihood]], the relational core of the
    * CCNet-style "how natural is this doc under corpus statistics"
    * filter (Wenzek et al. 2020 score with a KenLM n-gram model; here
    * the model is the corpus's own bigram table, which is what a
    * from-scratch engine can train in-plan). Per document:
    *
    *   score = (1/n) Σ_i  (c(w_i, w_{i+1}) + 1) / (c1(w_i) + V)
    *
    * — the average Laplace-smoothed conditional bigram probability,
    * where `c(·,·)` is the corpus count of the bigram (top-`topB`
    * retained), `c1(·)` the corpus count of the token in bigram-FIRST
    * position (top-`topV` retained — this, not the raw unigram count,
    * is the correct conditional denominator: Σ_w2 c(w1,w2) = c1(w1)),
    * and V the retained first-position vocabulary size. Out-of-vocab
    * bigrams score 1/(c1+V) (pure smoothing mass); out-of-vocab first
    * tokens take denominator V. Low score ⇒ improbable token
    * transitions: shuffled text, boilerplate keyword soup, wrong-
    * language fragments — signals invisible to unigram statistics.
    *
    * Exactness: each term is a ratio of two integers — ONE IEEE
    * division — then the [[KMeans.fit]] fixed-point recipe makes the
    * per-doc mean order-independent: `floor(term · 1e15)` (exact in
    * any engine), exact integer sum (decimal(38,0) ≡ HUGEINT), one
    * correctly-rounded int→double conversion, and the shared division
    * sequence `/ n / 1e15`. Oracled bit-exactly (q_bigram_lik). Terms
    * are Laplace probabilities ≤ 1 whenever the first token is in
    * vocab; the OOV-first case is bounded by (minVocabCount+1)/V,
    * guarded like KMeans.fit against the 9.2e3 floor-saturation edge.
    *
    * Scale: bigram expansion is a per-row transform (no join); both
    * count tables are bounded top-K (TakeOrderedAndProject) and
    * BROADCAST, so the corpus is scored in one map pass over the
    * exploded frame plus the per-doc aggregate — the same
    * shuffle-linear shape as [[unigramLikelihood]]. Docs with < 2
    * tokens yield no row (no transitions to measure). */
  def bigramLikelihood(df: DataFrame, idCol: String, textCol: String,
      topV: Int = 10000, topB: Int = 30000): DataFrame = {
    require(topV > 0 && topB > 0, "topV and topB must be positive")
    // tokenize + pair in ONE native pass (graft.functions.TokenPairs):
    // the HOF transform-over-projected-tokens form re-inlined the
    // interpreted tokenize into every downstream branch (24
    // instantiations in q_lm_buckets' optimized plan, round-9 scan);
    // docs with < 2 tokens yield an empty array — explode drops them,
    // exactly the rows the old size>=2 prefilter kept
    val pairs = df
      .select(col(idCol),
        explode(graft.functions.TokenPairs(col(textCol))).as("__p"))
      .select(col(idCol), col("__p.w1").as("__w1"),
        concat(col("__p.w1"), lit("\u0001"), col("__p.w2")).as("__bg"))
    // ONE count pass feeds both model tables: __bg determines __w1
    // (its chr(1)-prefix), so c1(w1) = Σ_bg cb exactly equals the
    // direct per-__w1 pair count — and because both top-K branches now
    // hang off the IDENTICAL aggregate subtree, ReuseExchange dedupes
    // its shuffle inside the final plan (no persist needed; before the
    // restructure the two different groupings re-tokenized the corpus).
    val bgCounts = pairs.groupBy("__bg", "__w1")
      .agg(count(lit(1)).as("__cb"))
    val firsts = bgCounts.groupBy("__w1").agg(sum("__cb").as("__c1"))
      .orderBy(col("__c1").desc, col("__w1").asc).limit(topV)
    val bigrams = bgCounts.select(col("__bg"), col("__cb"))
      .orderBy(col("__cb").desc, col("__bg").asc).limit(topB)
    val vocabN = firsts.agg(count(lit(1)).as("__V"))
    val term = (coalesce(col("__cb"), lit(0L)) + 1L).cast("double") /
      (coalesce(col("__c1"), lit(0L)) + col("__V")).cast("double")
    val guarded = when(term >= lit(9.2e3), raise_error(concat(
      lit("bigramLikelihood: term >= 9.2e3 overflows the 1e15 " +
        "fixed-point quantization for bigram "), col("__bg")))).otherwise(term)
    pairs
      .join(broadcast(bigrams), Seq("__bg"), "left")
      .join(broadcast(firsts), Seq("__w1"), "left")
      .crossJoin(broadcast(vocabN))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__cb").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(floor(guarded * lit(1e15)).cast("decimal(38,0)")).as("__s"),
        // the paper-faithful cross-entropy rides ALONGSIDE the exact
        // ranking score (the Dsir log_weight precedent): ln is not
        // engine-portable (last-ulp divergence, see the Hll scaladoc),
        // so neg_avg_logp is fixed-point-summed for RUN-deterministic
        // Spark output but excluded from the oracled column set.
        // Perplexity = exp(neg_avg_logp).
        sum(floor(log(guarded) * lit(-1e15)).cast("decimal(38,0)"))
          .as("__l"))
      .select(col(idCol), col("n_bigrams"), col("n_oov"),
        (col("__s").cast("double") / col("n_bigrams") / lit(1e15))
          .as("score"),
        (col("__l").cast("double") / col("n_bigrams") / lit(1e15))
          .as("neg_avg_logp"))
  }

  /** KNESER-NEY–smoothed bigram LM scoring — the CCNet/KenLM recipe
    * class ([[bigramLikelihood]]'s Laplace smoothing over-penalizes
    * frequent-but-promiscuous histories; absolute discounting with a
    * CONTINUATION unigram is the standard fix): per transition
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0)/c1(w1)
    *            + D·f1(w1)/c1(w1) · Pcont(w2)
    *
    * with discount D = `discountNum`/`discountDen` (default 3/4, the
    * classic value), c1(w1) = Σ_w2 c(w1,w2) over the RETAINED bigram
    * table, f1(w1) = its distinct continuations, and the continuation
    * distribution Laplace-floored so no transition scores zero:
    * Pcont(w2) = (p2(w2) + 1)/(Nbb + Vc), where p2(w2) = distinct
    * predecessors of w2, Nbb = retained bigram count, Vc = retained
    * distinct continuations. A w1 with no retained continuations backs
    * off to Pcont(w2) alone. All statistics are computed from the
    * top-`topB` bigram table (the pruned-LM convention: the model IS
    * the retained table, so the scoring pass needs nothing else).
    *
    * Exactness — the [[bigramLikelihood]] discipline with RATIONAL
    * discounting: each term is one ratio of exact integer products,
    *   [max(den·cb − num, 0)·(Nbb+Vc) + num·f1·(p2+1)]
    *     / [den·c1·(Nbb+Vc)]
    * (decimal(38,0) ≡ HUGEINT), ONE correctly-rounded int→double cast
    * per side, ONE IEEE division, then the fixed-point mean
    * (floor(term·1e15), exact sum, shared division sequence). Terms
    * are ≤ 1 + D < 2 by construction (cb ≤ c1, λ·Pcont ≤ D), so no
    * saturation guard is needed. Oracled bit-exactly (q_kn_bigram).
    *
    * Scale: identical shape to [[bigramLikelihood]] — per-row bigram
    * expansion, one bounded top-B aggregate, three ≤topB-row stat
    * tables + a 1-row total all BROADCAST, one map scoring pass, one
    * per-doc aggregate. Output: (idCol, n_bigrams, n_unseen — w1 with
    * no retained continuation —, score, neg_avg_logp — the
    * cross-entropy companion, run-deterministic but not
    * oracle-portable, the [[bigramLikelihood]] note). */
  def kneserNeyBigram(df: DataFrame, idCol: String, textCol: String,
      topB: Int = 30000, discountNum: Long = 3, discountDen: Long = 4)
      : DataFrame = {
    require(topB > 0, "topB must be positive")
    require(discountDen > 0 && discountNum >= 0 &&
      discountNum < discountDen,
      s"discount must satisfy 0 <= num < den: $discountNum/$discountDen")
    val dec = "decimal(38,0)"
    // one native tokenize+pair pass per scan (see bigramLikelihood)
    val pairs = df
      .select(col(idCol),
        explode(graft.functions.TokenPairs(col(textCol))).as("__p"))
      .select(col(idCol), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    // four downstream branches (w1s, w2s, tot, the scoring join) hang
    // off this topB-row frame; its corpus-side exchange is identical
    // across branches, so ReuseExchange computes it once (measured: a
    // persist here changes nothing at sf0.1)
    val bigrams = pairs.groupBy("__w1", "__w2")
      .agg(count(lit(1)).as("__cb"))
      .orderBy(col("__cb").desc, col("__w1").asc, col("__w2").asc)
      .limit(topB)
    val w1s = bigrams.groupBy("__w1")
      .agg(sum("__cb").as("__c1"), count(lit(1)).as("__f1"))
    val w2s = bigrams.groupBy("__w2").agg(count(lit(1)).as("__p2"))
    val tot = bigrams.agg(count(lit(1)).as("__nbb"),
      countDistinct(col("__w2")).as("__vc"))
    val nbbv = (col("__nbb") + col("__vc")).cast(dec)
    val p2p1 = (coalesce(col("__p2"), lit(0L)) + 1L).cast(dec)
    val numSeen =
      greatest(lit(discountDen) * coalesce(col("__cb"), lit(0L))
        - lit(discountNum), lit(0L)).cast(dec) * nbbv +
        lit(discountNum).cast(dec) * col("__f1").cast(dec) * p2p1
    val denSeen = lit(discountDen).cast(dec) * col("__c1").cast(dec) * nbbv
    val term = when(col("__c1").isNotNull,
      numSeen.cast("double") / denSeen.cast("double"))
      .otherwise(p2p1.cast("double") / nbbv.cast("double"))
    pairs
      .join(broadcast(bigrams), Seq("__w1", "__w2"), "left")
      .join(broadcast(w1s), Seq("__w1"), "left")
      .join(broadcast(w2s), Seq("__w2"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("__c1").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(floor(term * lit(1e15)).cast(dec)).as("__s"),
        sum(floor(log(term) * lit(-1e15)).cast(dec)).as("__l"))
      .select(col(idCol), col("n_bigrams"), col("n_unseen"),
        (col("__s").cast("double") / col("n_bigrams") / lit(1e15))
          .as("score"),
        (col("__l").cast("double") / col("n_bigrams") / lit(1e15))
          .as("neg_avg_logp"))
  }

  /** Corpus "dataset card" — the observability pass every corpus-prep
    * pipeline ends with: one aggregation over the corpus producing, per
    * rollup cell of `dims` (each dim slice, plus subtotals and the
    * grand total), the document count, token and char volumes, the
    * number of DISTINCT normalized-content fingerprints (exact — the
    * honest dedup-rate denominator, not a sketch), the Gopher-gate pass
    * count, and the duplicate fraction `(n_docs − n_distinct)/n_docs`
    * (one IEEE division — oracle-portable).
    *
    * Scale shape: ROLLUP expands each row into |dims|+1 grouping sets
    * (constant factor); the only heavy aggregate is the exact distinct,
    * which Spark plans as the standard two-phase (group, fp) expand —
    * shuffle keys are 16-byte fingerprints plus the dims, never text.
    * Swap [[graft.functions.Hll]] for the distinct at the scale where
    * exactness stops paying its shuffle. Output: dims ++ (n_docs,
    * n_tokens, n_chars, n_distinct, n_gopher_pass, dup_frac); NULL dim
    * values mark subtotal rows (standard ROLLUP convention). */
  def corpusCard(df: DataFrame, textCol: String,
                 dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "corpusCard needs at least one dimension")
    // per-doc stats straight from the fused text kernels — the staged
    // token array fed five interpreted metric HOFs per row (the
    // GopherAdmit scalar is the same keep decision in one pass, and
    // token counts never need the array)
    val staged = df.select(dims.map(col) ++ Seq(
      graft.functions.TokenCount(col(textCol)).cast("long").as("__nt"),
      graft.functions.GopherAdmit(col(textCol)).as("__ga"),
      Text.fingerprint(col(textCol)).as("__fp"),
      length(col(textCol)).cast("long").as("__nc")): _*)
    staged.rollup(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nc")).as("n_chars"),
        countDistinct(col("__fp")).as("n_distinct"),
        sum(when(col("__ga") >= 0L, 1L).otherwise(0L))
          .as("n_gopher_pass"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double"))
  }

  /** Naive-Bayes document-quality classifier — the relational form of
    * the fastText-style "is this page reference-like" filter used to
    * select GPT-3/LLaMA pre-training data (Brown et al. 2020 appendix A;
    * Touvron et al. 2023 "classify as references"): the positive class
    * is a `ref` frame of exemplar documents (a Wikipedia-like slice),
    * the negative class is the corpus being scored itself, and each
    * document's score is the average per-token Laplace-smoothed
    * likelihood ratio
    *
    *   score = (1/n) Σ_i  [ (cPos(w_i)+1) / (nPos+V) ]
    *                    / [ (cNeg(w_i)+1) / (nNeg+V) ]
    *
    * where cPos/cNeg are class token counts over the retained top-`topV`
    * vocabulary (by combined count, ties to token asc), nPos/nNeg the
    * TOTAL class token counts, and V the retained vocabulary size.
    * Averaging ratios instead of multiplying keeps the statistic
    * bounded and n-normalized (the geometric-mean/product form is the
    * same ranking through a log — not engine-portable, the
    * [[bigramLikelihood]] neg_avg_logp note); score > 1 ⇒ the document's
    * vocabulary looks more like the reference class than the corpus
    * background. Out-of-vocab tokens take the pure-smoothing ratio
    * (nNeg+V)/(nPos+V).
    *
    * Exactness: each term's numerator (cPos+1)·(nNeg+V) and denominator
    * (cNeg+1)·(nPos+V) are EXACT integer products (decimal(38,0) ≡
    * DuckDB HUGEINT — int64 would silently wrap at web scale), each
    * cast to double (correctly rounded in both engines), ONE IEEE
    * division per term, then the [[KMeans.fit]] fixed-point mean:
    * floor(term·1e12) (1e12, not 1e15 — likelihood ratios are not
    * probabilities; terms up to 9.2e6 stay exact, raise_error past it),
    * exact decimal sum, one rounded cast, shared division sequence.
    * Oracled bit-exactly (q_quality_nb).
    *
    * Scale: both count tables are one aggregate each over the exploded
    * token frames; the retained vocab (top-`topV` + the two totals) is
    * BROADCAST, so scoring is one map pass over the corpus tokens plus
    * the per-doc aggregate — the [[unigramLikelihood]] shuffle-linear
    * shape. The ref frame is typically a tiny curated slice; nothing
    * about it is collected to the driver. Docs with zero tokens yield
    * no row. Output: (idCol, n_tokens, n_oov, score). */
  def nbQualityScore(docs: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, refTextCol: String,
      topV: Int = 10000): DataFrame = {
    require(topV > 0, s"topV must be positive: $topV")
    // identical tokens in a doc share one likelihood term, so every
    // token-instance stream pre-aggregates to counts BEFORE any reuse —
    // the same restructure that fixed the oracle's memory blowup
    // (round 11): the raw exploded docToks was traversed THREE times
    // (class counts, totals, scoring) and refToks twice, each a full
    // corpus scan + tokenize. Now each side is tokenized ONCE:
    // `dtc` (doc x distinct-token counts — the scoring granularity, three
    // consumers) and `cPos` (ref vocabulary counts, two) each end in an
    // aggregate exchange the plan reuses (the Ops.withPersisted rule).
    // The weighted fold below is arithmetically identical to the
    // per-instance original (exact integer counts throughout).
    val dtc = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    val cPos = ref
      .select(explode(Text.tokens(col(refTextCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cp"))
    val cNeg = dtc.groupBy("__w").agg(sum("__c").as("__cn"))
    val vocab = cPos.join(cNeg, Seq("__w"), "full_outer")
      .select(col("__w"),
        coalesce(col("__cp"), lit(0L)).as("__cp"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
      .orderBy((col("__cp") + col("__cn")).desc, col("__w").asc)
      .limit(topV)
    // totals over the FULL class token streams (not the retained
    // vocab): three 1-row side frames riding the plan as broadcasts —
    // no driver action; sums over the count frames equal the old
    // token-instance counts exactly
    val totals = cPos.agg(coalesce(sum("__cp"), lit(0L)).as("__np"))
      .crossJoin(broadcast(dtc.agg(coalesce(sum("__c"), lit(0L)).as("__nn"))))
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("__V"))))
    val num = ((coalesce(col("__cp"), lit(0L)) + 1L).cast("decimal(38,0)") *
      (col("__nn") + col("__V")).cast("decimal(38,0)")).cast("double")
    val den = ((coalesce(col("__cn"), lit(0L)) + 1L).cast("decimal(38,0)") *
      (col("__np") + col("__V")).cast("decimal(38,0)")).cast("double")
    val term = num / den
    val guarded = when(term >= lit(9.2e6), raise_error(concat(
      lit("nbQualityScore: likelihood ratio >= 9.2e6 overflows the 1e12 " +
        "fixed-point quantization for token "), col("__w"))))
      .otherwise(term)
    // weighted fold: sum(c * floor(term * 1e12)) / sum(c) — per-token
    // products bounded by 9.2e18 x doc length, well inside decimal(38)
    dtc
      .join(broadcast(vocab), Seq("__w"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(idCol).agg(
        sum(col("__c")).as("n_tokens"),
        sum(when(col("__cp").isNull && col("__cn").isNull, col("__c"))
          .otherwise(0L)).as("n_oov"),
        sum(col("__c").cast("decimal(18,0)") *
          floor(guarded * lit(1e12)).cast("decimal(38,0)")).as("__s"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (col("__s").cast("double") / col("n_tokens") / lit(1e12))
          .as("score"))
  }

  /** Corpus vocabulary statistics — the tokenizer-design / dataset-card
    * rider: the top-`topV` tokens by frequency with rank and CUMULATIVE
    * corpus coverage (what fraction of all token occurrences the top-k
    * vocabulary explains — the curve that decides vocab sizes and
    * flags corpus skew, e.g. boilerplate tokens covering half the
    * corpus).
    *
    * Scale shape: one map-combined token count (vocab-sized result,
    * orders of magnitude smaller than the corpus), `TakeOrderedAndProject`
    * for the top-`topV` slice, and the cumulative window runs over the
    * topV rows ONLY (single tiny partition by construction — never a
    * corpus-wide unkeyed window); the grand total rides as a 1-row
    * broadcast. Coverage = exact BIGINT cumsum / exact BIGINT total, one
    * IEEE division — oracle-portable. Rank ties break by token asc.
    *
    * Output: (rank, token, freq, coverage), rank 1-based. */
  def vocabStats(df: DataFrame, textCol: String,
                 topV: Int = 100): DataFrame = {
    require(topV > 0, s"topV must be positive: $topV")
    val toks = df.select(explode(Text.tokens(col(textCol))).as("token"))
    val freqs = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    val total = toks.agg(count(lit(1)).as("__total"))
    val top = freqs
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topV)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token").asc)).cast("long"))
      .withColumn("coverage",
        sum(col("freq")).over(w).cast("double") /
          col("__total").cast("double"))
      .select("rank", "token", "freq", "coverage")
  }

  /** Collocation extraction — adjacent bigrams ranked by LIFT, the
    * log-free PMI (pointwise mutual information without the log, which
    * is order-preserving since log is monotone):
    *
    *   lift(a, b) = c(ab) · N / (c(a) · c(b))
    *
    * with c(ab) adjacent-bigram count, c(w) unigram count, N total
    * tokens — the classic collocation statistic ("new york" scores far
    * above "of the" because lift normalizes away both words'
    * individual frequencies). `minCount` is the standard support floor
    * (rare pairs otherwise dominate: two hapaxes that co-occur once
    * have sky-high lift and zero evidence).
    *
    * Exactness: numerator and denominator are exact decimal products;
    * lift is two deterministic casts + one IEEE division, ties break
    * (w1, w2) asc — oracled bit-exact (q_collocations). Scale: the
    * support filter lands directly on the bigram aggregate, so the
    * unigram joins see only surviving pairs; both joins are keyed
    * (shuffle-linear), totals broadcast, top-k via
    * TakeOrderedAndProject. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
                   k: Int = 30): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val dec = "decimal(18,0)"
    val toks = df.select(Text.tokens(col(textCol)).as("__ts"))
    val uni = toks.select(explode(col("__ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("__n"))
    val pairs = df
      .select(explode(graft.functions.TokenPairs(col(textCol))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("lift",
        (col("c_ab").cast(dec) * col("__n").cast(dec)).cast("double") /
          (col("c_a").cast(dec) * col("c_b").cast(dec)).cast("double"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "c_ab", "c_a", "c_b", "lift")
  }

  /** Feature-hashing document vectors (the hashing trick, Weinberger
    * et al. ICML'09): token → bucket `pmod(xxhash64(token), dim)`,
    * value = exact token count — the model-free embedding baseline that
    * lets the whole SimSearch/KMeans/SemDeDup family run on RAW TEXT
    * before any learned encoder exists. Sparse form: one
    * `(id, bucket, cnt)` row per occupied bucket; one shuffle-linear
    * aggregate, counts exact (oracle-replayable through the XXH64
    * macros). Docs with no tokens emit nothing (a zero vector has no
    * cosine direction). */
  def hashEmbedSparse(df: DataFrame, idCol: String, textCol: String,
                      dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1: $dim")
    // explode the token HASHES, not the tokens: the fused kernel hashes
    // each token in place, so no per-token UTF8String ever exists and
    // the exploded rows carry an 8-byte long instead of the token text
    df.select(col(idCol).as("id"),
        explode(graft.functions.HashedTokens(col(textCol))).as("__h"))
      .groupBy(col("id"),
        pmod(col("__h"), lit(dim)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-ROW dense hash embedding — the stateless Column form of
    * [[hashEmbedDense]] (bit-identical values: integer counts built by
    * +1.0 increments): O(tokens·dim) codegen HOF per row, NO shuffle,
    * so it runs inside a streaming map stage ([[
    * graft.streaming.ops.DocClusterOp]]) where the groupBy twin would
    * be a stateful aggregation. Use the twin for batch corpora (one
    * aggregate beats per-row O(dim) array rebuilds there). */
  def hashEmbedRow(textCol: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1: $dim")
    aggregate(graft.functions.HashedTokens(textCol),
      array_repeat(lit(0.0), lit(dim)),
      (acc, h) => {
        val b = pmod(h, lit(dim)).cast("int")
        zip_with(acc, sequence(lit(0), lit(dim - 1)),
          (v, i) => when(i === b, v + 1.0).otherwise(v))
      })
  }

  /** Dense twin of [[hashEmbedSparse]]: `(id, embedding[dim])` with
    * exact counts widened to double — drop-in input for
    * [[SimSearch.bruteForceTopK]] / [[KMeans]] / [[Pca]]. The
    * densify is one per-doc map build + an ordered transform (no
    * second shuffle beyond the count aggregate). */
  def hashEmbedDense(df: DataFrame, idCol: String, textCol: String,
                     dim: Int): DataFrame =
    hashEmbedSparse(df, idCol, textCol, dim)
      .groupBy("id")
      .agg(map_from_entries(collect_list(
        struct(col("bucket").cast("int"), col("cnt")))).as("__m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0L))
            .cast("double")).as("embedding"))
}
