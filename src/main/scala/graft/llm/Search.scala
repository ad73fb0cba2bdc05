package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (BM25) retrieval and lexical+semantic hybrid fusion over the
  * corpus — the query-time counterpart of the index-shaped operators
  * ([[SimSearch]]/[[Ivf]] for embeddings, [[TextStats.tfidfTop]] for
  * salient terms). A training-data engine needs retrieval for targeted
  * corpus slicing ("all docs about X"), decontamination audits, and
  * RAG-style eval-set construction.
  *
  * Exactness contract (the engine-wide rule): every score is built from
  * integer counts with IEEE multiply/divide only — no `ln` (the
  * Robertson idf is replaced by its log-free rational core, monotone in
  * the classic form per-term) — and per-doc term sums go through the
  * fixed-point recipe ([[KMeans.fit]]): `floor(x·1e9)` → exact integer
  * sum → one correctly-rounded cast → shared division. Oracled
  * bit-exactly (q_bm25, q_hybrid_topk). */
object Search {

  /** BM25 relevance of every document against a bag of query `terms`.
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1(1−b) + k1·b·dl·N/C)
    *
    * with `idf(t) = (2N − 2df + 1)/(2df + 1)` — the log-free rational
    * core of the Robertson–Spärck Jones idf (the classic form is
    * `ln(1 + idf/2 + …)`-shaped; this is its argument, the same
    * per-term ordering, kept log-free so the score replays bit-exactly
    * in any engine — see the `ln`-ulp note in the Hll scaladoc),
    * `dl·N/C` = doc length over mean doc length (N docs, C corpus
    * tokens). k1=1.2, b=0.75 are the standard defaults; the derived
    * constants are spelled as the same IEEE expressions on both engine
    * and oracle sides.
    *
    * Scale: tokens are filtered to the query terms BEFORE any
    * aggregation — the tf frame is O(docs containing a term), not
    * O(corpus tokens) — and the doc length rides the explode as a
    * grouping key, so no corpus-sized side table is ever joined back;
    * N, C (one partial-agg row) and the ≤|terms|-row df table ride
    * broadcast. One shuffle-linear pass at any corpus size. Output:
    * (id, n_terms, score) for docs matching ≥ 1 term; docs matching
    * none yield no row (BM25 0). */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val norm = normTerms(terms, "bm25")
    val hashed = norm.map(termHash)
    // driver-side hash -> term text (bounded by the query size) so the
    // overflow diagnostic names the offending TERM, not its 8-byte hash
    val lookup = typedLit(norm.map(t => termHash(t) -> t).toMap)
    score(df, idCol, textCol, k1, b, Seq(col(idCol)),
      _.filter(col("__h").isin(hashed: _*)), identity,
      element_at(lookup, col("__h")))
      .select(col(idCol), col("n_terms"), col("score"))
  }

  /** Driver-side twin of Spark's `xxhash64(string)` (XXH64 over the
    * UTF-8 bytes, seed 42) — literal query terms prehash to the same
    * longs the [[graft.functions.HashedTokens]] kernel emits. */
  private def termHash(t: String): Long = {
    val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 42L)
  }

  /** Query terms are matched against [[Text.tokens]] output, which is
    * lowercased — normalize the same way (a mixed-case term would
    * otherwise silently score zero) and refuse empties/duplicates. */
  private def normTerms(terms: Seq[String], op: String): Seq[String] = {
    require(terms.nonEmpty, s"$op: empty query")
    val norm = terms.map(_.trim.toLowerCase)
    require(norm.forall(_.nonEmpty), s"$op: blank term in query")
    require(norm.distinct.size == norm.size,
      s"$op: duplicate terms after lowercasing: $norm")
    norm
  }

  /** Shared BM25 pipeline: tokenize → totals (decimal-exact token sum,
    * one partial-agg row) → term-restricted explode with the doc
    * length riding as a grouping key (joining a corpus-sized
    * doc-length table back to tf would cost a full corpus shuffle per
    * query) → corpus-global df → fixed-point score aggregate keyed by
    * `keys`. `restrict` cuts the exploded (id, __dl, __t) frame to
    * query terms (literal isin, or broadcast semi-join for a term
    * table); `fanOut` optionally multiplies matched rows per query
    * (the qterms broadcast join) before scoring. */
  private def score(corpus: DataFrame, idCol: String, textCol: String,
                    k1: Double, b: Double, keys: Seq[Column],
                    restrict: DataFrame => DataFrame,
                    fanOut: DataFrame => DataFrame,
                    termText: Column): DataFrame = {
    // terms ride as their 8-byte xxhash64 (the HashedTokens kernel —
    // tokenize + hash in one pass, no token array, no per-token
    // UTF8String): the explode, tf groupBy, df table and every term
    // join move longs, never strings. Two DISTINCT terms colliding at
    // 2^-64 odds would merge — the ShingleHashes trade, irrelevant to
    // every downstream count/score. Doc length comes from the
    // zero-alloc count kernel (== size(tokens(text)), pinned).
    val toks = corpus.select(col(idCol),
      graft.functions.TokenCount(col(textCol)).cast("long").as("__dl"),
      explode(graft.functions.HashedTokens(col(textCol))).as("__h"))
    // the totals pass only needs lengths, never the tokens themselves
    // (same decimal-exact sum)
    val tots = corpus.agg(count(lit(1)).as("__n"),
      sum(graft.functions.TokenCount(col(textCol))
        .cast("long").cast("decimal(38,0)"))
        .cast("long").as("__c"))
    // TWO consumers traverse tf (the corpus-global df table and the
    // scoring join); its aggregate exchange is reused, so the corpus
    // tokenize + explode + term-restricted groupBy runs once without a
    // cache (the Ops.withPersisted rule). tf is the term-matching set
    // (O(matching docs x query terms) rows of longs).
    val tf = restrict(toks)
      .groupBy(col(idCol), col("__dl"), col("__h"))
      .agg(count(lit(1)).as("__tf"))
    // count_if(__tf > 0) equals count(1) (__tf >= 1) but reads __tf, so
    // column pruning leaves this branch's tf aggregate — and exchange —
    // identical to the scoring join's
    val dfq = tf.groupBy("__h").agg(count_if(col("__tf") > 0).as("__df"))
    fanOut(tf.join(broadcast(dfq), "__h"))
      .crossJoin(broadcast(tots))
      .groupBy(keys: _*).agg(
        count(lit(1)).as("n_terms"),
        // the text rides ONLY inside the raise_error diagnostic — it is
        // consumed in the partial aggregate, so no string ever shuffles
        sum(floor(termScore(k1, b,
            coalesce(termText, col("__h").cast("string"))) * lit(1e9))
          .cast("decimal(38,0)"))
          .as("__s"))
      .withColumn("score", col("__s").cast("double") / lit(1e9))
  }

  /** The per-(doc, term) BM25 contribution over the staged columns
    * (__tf, __df, __dl, __n, __c) — the three derived constants are
    * spelled as the SAME IEEE expression shape as the oracle SQL
    * ((k1+1), k1(1−b), k1·b over double-cast literals); guarded at the
    * 1e9-fixed-point Long-saturation bound like [[KMeans.fit]]. */
  private[graft] def termScore(k1: Double, b: Double,
                               termCol: Column = col("__h")): Column = {
    val c1 = lit(k1) + lit(1.0)
    val c2 = lit(k1) * (lit(1.0) - lit(b))
    val c3 = lit(k1) * lit(b)
    val idf = (lit(2L) * col("__n") - lit(2L) * col("__df") + lit(1L))
      .cast("double") /
      (lit(2L) * col("__df") + lit(1L)).cast("double")
    val tfPart = (col("__tf").cast("double") * c1) /
      (col("__tf").cast("double") + c2 +
        (c3 * ((col("__dl").cast("double") * col("__n").cast("double")) /
          col("__c").cast("double"))))
    val term = idf * tfPart
    when(term >= lit(9.2e9), raise_error(concat(
      lit("bm25: term score >= 9.2e9 overflows the 1e9 fixed-point " +
        "quantization for term "), termCol.cast("string"))))
      .otherwise(term)
  }

  /** Batch retrieval: BM25 of every document against EVERY query in a
    * (small, broadcast) queries table — the engine shape of retrieval
    * at scale: one corpus pass scores all queries at once instead of
    * |queries| single-query passes. `queries` carries (`queryIdCol`,
    * `termsCol: array<string>`); duplicate terms within a query are
    * collapsed (BM25 sums per distinct term). df is corpus-global per
    * term (shared across queries, computed once from the tf frame).
    *
    * Scale: the corpus explode is filtered by a broadcast semi-join on
    * the union of all query terms — the tf frame is O(docs matching
    * ANY query); the per-query fan-out joins the ≤Σ|terms|-row qterms
    * table broadcast. Everything else is [[bm25]]. Output:
    * (queryIdCol, id, n_terms, score) per query × matching doc. */
  def bm25Queries(corpus: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, queryIdCol: String = "query_id",
                  termsCol: String = "terms", k1: Double = 1.2,
                  b: Double = 0.75): DataFrame = {
    // same normalization as the token side (lowercased) — a
    // mixed-case query term would silently score zero otherwise
    val qterms = queries.select(col(queryIdCol),
      explode(array_distinct(transform(col(termsCol),
        t => lower(trim(t))))).as("__t"))
      // prehash on the (tiny) query side so every corpus-side join
      // and shuffle key is the 8-byte term hash, never the string —
      // __t rides the broadcast fan-out only to name the term in the
      // overflow diagnostic (consumed in the partial agg, no string
      // ever enters an exchange)
      .select(col(queryIdCol), xxhash64(col("__t")).as("__h"),
        col("__t"))
    val termSet = qterms.select("__h").distinct()
    score(corpus, idCol, textCol, k1, b,
      Seq(col(queryIdCol), col(idCol)),
      _.join(broadcast(termSet), "__h"),
      _.join(broadcast(qterms), "__h"), col("__t"))
      .select(col(queryIdCol), col(idCol), col("n_terms"), col("score"))
  }

  /** Top-`topK` of a scored frame with an explicit dense `rank` column
    * (1 = best; ties by id asc). The cut is a distributed partial top-k
    * (TakeOrderedAndProject); the rank window then runs over ≤ topK
    * rows — bounded by the constant, never by the corpus. */
  def rankTop(df: DataFrame, idCol: String, scoreCol: String, topK: Int)
      : DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    df.orderBy(col(scoreCol).desc, col(idCol).asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col(scoreCol).desc, col(idCol).asc)))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) of two ranked
    * lists: `rrf(d) = Σ_lists 1/(kRrf + rank_list(d))`, docs absent
    * from a list contribute 0 from it. The robust standard for fusing
    * lexical and semantic retrieval — rank-only, so the incomparable
    * score scales (BM25 vs cosine) never meet. Inputs: two frames with
    * (`idCol`, `rankCol`); both are top-K lists — bounded — so the
    * fusion join and final sort are constant-sized regardless of
    * corpus. Output: (id, r_a, r_b, rrf) top-`topK` by rrf desc, ties
    * by id asc. Exact: integer add → one cast → one division per list,
    * one fixed-order double add (no aggregation). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              rankCol: String, topK: Int, kRrf: Int = 60): DataFrame = {
    require(topK >= 1 && kRrf >= 0, s"bad topK=$topK / kRrf=$kRrf")
    def contrib(r: Column): Column =
      when(r.isNull, lit(0.0))
        .otherwise(lit(1.0) / (lit(kRrf.toLong) + r).cast("double"))
    val l = a.select(col(idCol).as("id"), col(rankCol).as("r_a"))
    val r = b.select(col(idCol).as("id"), col(rankCol).as("r_b"))
    l.join(r, Seq("id"), "full_outer")
      .select(col("id"), col("r_a"), col("r_b"),
        (contrib(col("r_a")) + contrib(col("r_b"))).as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc).limit(topK)
  }
}
