package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PosShingleHashes

/** DSIR-style data selection by importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score every raw document by how much more likely its
  * hashed n-gram bag is under a TARGET distribution (e.g. curated text)
  * than under the raw corpus distribution, then keep the top-scoring
  * slice. The reference pipeline's quality-filter family (SURVEY.md
  * §2.6 corpus assembly) selects on per-doc heuristics; DSIR selects on
  * corpus-level distribution match — the standard pre-training recipe
  * for "give me more docs that look like Wikipedia".
  *
  * Features are the paper's: unigram + bigram occurrence counts hashed
  * into `buckets` buckets ([[PosShingleHashes]] over whitespace tokens,
  * `pmod(xxhash64, buckets)`), duplicates KEPT (bag, not set). Both
  * bucket models are Laplace-smoothed: p_b = (cnt_p(b)+1)/(C_p+B).
  *
  * Scoring — two columns per doc:
  *  - `score`: EXACT integer ranking statistic. The paper ranks by
  *    Σ_b c_b·log(p_b/q_b), which no two engines reproduce bit-exactly
  *    (ln differs in the last ulp). The engine's deterministic contract
  *    ranks by the linear statistic Σ_b c_b·(p̂_b − q̂_b) instead, carried
  *    as its EXACT common-denominator numerator
  *    Σ_b c_b·((cnt_p(b)+1)·(C_q+B) − (cnt_q(b)+1)·(C_p+B))
  *    in decimal(38,0) — reproducible bit-for-bit on any engine, which
  *    is what makes the selection auditable (q_dsir_scores /
  *    q_dsir_select hash-match a SQL replay). Bounds: C ≈ 10¹³ hashed
  *    grams at 100 TB keeps every term below 10³⁴ < 10³⁸.
  *  - `log_weight`: the paper's Σ_b c_b·log(p̂_b/q̂_b) (double) for
  *    interoperability with DSIR-calibrated thresholds; same model
  *    tables, same pass — deterministic on ONE engine (fixed fold
  *    order) but not oracle-portable, hence not the ranking contract.
  *
  * Scale shape: one shuffle builds the ≤`buckets`-row model table
  * (map-side combined), which then BROADCASTS to a map-only scoring
  * join; per-doc bucket counts are the only corpus-sized aggregate
  * (keyed by (doc, bucket), map-side combined). No quadratic term, no
  * driver data path. Docs with zero tokens yield no row (the
  * [[TextStats.unigramLikelihood]] convention).
  */
object Dsir {

  /** Hashed unigram+bigram occurrence buckets of a MATERIALIZED tokens
    * column (see [[graft.functions.Text.shinglesFromTokens]] for why
    * `ts` must not be an inline tokenizer expression). */
  def featureBuckets(ts: Column, buckets: Int): Column = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    def bucketed(n: Int) =
      transform(PosShingleHashes(ts, n), h => pmod(h, lit(buckets.toLong)))
    concat(bucketed(1), bucketed(2))
  }

  /** Per-document importance scores of `df` against the target slice
    * `targetPred` selects (target ⊆ corpus, the in-corpus form of the
    * paper's target/raw split — pass a pre-unioned frame with a flag
    * column to score against an external target corpus).
    * Output: (idCol, n_feats, score, log_weight). */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, buckets: Int = 4096)
      : DataFrame =
    // DSIR is inherently two-pass (model build + scoring both traverse
    // the staged counts); the staged aggregate's exchange is reused, so
    // the tokenize+hash+explode corpus pass runs once without a cache
    // (the Ops.withPersisted rule)
    scoreStaged(stageCounts(df, idCol, textCol, targetPred, buckets),
      idCol, buckets)

  /** Stage 1 of [[importanceScores]]: per-(doc, target-flag, bucket)
    * occurrence counts — the one corpus-sized aggregate (map-side
    * combined, keyed by (id, bucket)). Split out because DSIR is
    * inherently two-pass (build the model, then score): the composed
    * plan references this stage twice, and both references read one
    * reused exchange, so tokenize+hash+explode runs once with no cache
    * — the staged frame is distinct (doc, bucket) pairs, far smaller
    * than the text it came from. A caller that scores one staged frame
    * in several actions holds it with
    * [[graft.operators.Ops.withPersisted]]. */
  def stageCounts(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    // fused unigram+bigram gram hashes straight off the text (no token
    // array), bucketed AFTER the explode: pmod on an exploded long is
    // one codegen scalar, where the [[featureBuckets]] HOF form
    // dispatched an interpreted transform() lambda per gram corpus-wide
    df.select(col(idCol), targetPred.as("__tgt"),
        explode(concat(
          graft.functions.TextPosShingleHashes(col(textCol), 1),
          graft.functions.TextPosShingleHashes(col(textCol), 2)))
          .as("__h"))
      .groupBy(col(idCol), col("__tgt"),
        pmod(col("__h"), lit(buckets.toLong)).as("__b"))
      .agg(count(lit(1)).as("__c"))
      // the bucket count rides the staged frame so stage 2 can verify
      // the pairing in BOTH directions (bucket ids alone only betray a
      // SMALLER staging value — every id in [0,1024) also fits [0,4096))
      .withColumn("__nb", lit(buckets))
  }

  /** Stage 2 of [[importanceScores]]: bucket model (≤ `buckets` rows,
    * broadcast) + scoring join over a [[stageCounts]] frame. `buckets`
    * MUST be the value the staged frame was hashed with — the Laplace
    * smoothing depends on it — so an in-plan guard on the (tiny) model
    * aggregate compares the staged frame's own recorded bucket count
    * (`__nb`, stamped by [[stageCounts]]) against the scoring value and
    * raises on any mismatch in either direction, rather than silently
    * mis-smoothing every score. */
  def scoreStaged(staged: DataFrame, idCol: String, buckets: Int)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val model = staged.groupBy(
      when(col("__b") >= lit(buckets.toLong) || col("__b") < 0L ||
        col("__nb") =!= lit(buckets),
        raise_error(concat(lit("Dsir.scoreStaged: staged frame was " +
            s"built with a different buckets value than $buckets " +
            "(staged __nb="),
          col("__nb").cast("string"), lit(", bucket id "),
          col("__b").cast("string"), lit(")"))))
        .otherwise(col("__b")).as("__b")).agg(
      sum(col("__c")).cast(dec).as("__cq"),
      sum(when(col("__tgt"), col("__c")).otherwise(0L)).cast(dec)
        .as("__cp"))
    // totals named apart from the per-bucket counts in case-INSENSITIVE
    // resolution (the Spark default) — __Cp would collide with __cp
    val totals = model.agg(sum("__cq").as("__tq"), sum("__cp").as("__tp"))
    // every per-bucket and total count rides the weight table: B rows
    // (counts + exact weight + the two log terms), broadcast once
    val weights = model.crossJoin(broadcast(totals))
      .select(col("__b").as("__wb"),
        ((col("__cp") + 1) * (col("__tq") + buckets) -
          (col("__cq") + 1) * (col("__tp") + buckets)).as("__w"),
        (log(col("__cp").cast("double") + 1.0) -
          log(col("__tp").cast("double") + buckets) -
          log(col("__cq").cast("double") + 1.0) +
          log(col("__tq").cast("double") + buckets)).as("__lw"))
    // null-safe on purpose: `__b` is never null, and a plain equi-join
    // would infer a different not-null filter into each side's copy of
    // `staged`, which stops the two from sharing one exchange
    staged.join(broadcast(weights), col("__b") <=> col("__wb"))
      .groupBy(idCol)
      .agg(sum(col("__c")).as("n_feats"),
        sum(col("__c") * col("__w")).as("score"),
        sum(col("__c").cast("double") * col("__lw")).as("log_weight"))
  }

  /** The selection step: top `n` docs by (score desc, id asc) — a
    * distributed partial top-n (TakeOrderedAndProject: every partition
    * forwards at most n rows), NOT a global sort; n is the training-set
    * size in docs, bounded by driver memory like every collect-the-
    * selection step. The paper resamples with Gumbel noise; the
    * engine's contract is the deterministic tiebreak (resampling that
    * is stable under retries, the [[graft.operators.Ops.hashSample]]
    * rule). */
  def selectTop(df: DataFrame, idCol: String, textCol: String,
                targetPred: Column, n: Int, buckets: Int = 4096)
      : DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    importanceScores(df, idCol, textCol, targetPred, buckets)
      .orderBy(col("score").desc, col(idCol))
      .limit(n)
  }
}
