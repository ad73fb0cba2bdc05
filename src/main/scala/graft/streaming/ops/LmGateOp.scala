package graft.streaming.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Ops
import graft.streaming.OperatorFactory

/** Streaming bigram-LM quality gate — the ingest-time face of
  * [[graft.llm.TextStats.bigramLikelihood]] (CCNet-style "how natural
  * is this doc"): the bigram model (top-V first-token counts, top-B
  * bigram counts, V) is FROZEN from a reference corpus at wire time
  * (the [[Bm25Op]] pattern) and rides the plan as two map literals, so
  * scoring is a fully STATELESS per-row fold over the row's own bigram
  * array — no shuffle, no state store; composes with `config_topic`
  * reconfig for model refresh.
  *
  * Exact batch parity per doc BY CONSTRUCTION: the per-transition term
  * is the same integer ratio `(c(w1,w2)+1)/(c1(w1)+V)` at the same
  * IEEE division, fixed-point-summed in decimal exactly like the batch
  * aggregate — a doc scores bit-identically here and in
  * `bigramLikelihood` over the reference corpus (pinned by
  * BigramLmSpec). Divergence by design: batch emits no row for docs
  * with < 2 tokens; the stream keeps every row with
  * `n_bigrams = 0, lm_score = 0.0` (a gate decides, it doesn't
  * silently drop) unless `min_score` is set, which drops rows scoring
  * strictly below it — including the zero-bigram rows, the CCNet
  * treatment of ultra-short docs.
  *
  * Config: `ref_path` (parquet reference corpus), `text_col` ("text"),
  * `top_v` (10000), `top_b` (30000), `min_score` (optional gate).
  * Output: source columns + (n_bigrams, n_oov, lm_score). */
object LmGateOp extends OperatorFactory {
  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame] = {
    val refPath = config.getOrElse("ref_path",
      sys.error("LmGateOp needs config key ref_path")).toString
    val textCol = config.getOrElse("text_col", "text").toString
    val topV = config.getOrElse("top_v", 10000).toString.toInt
    val topB = config.getOrElse("top_b", 30000).toString.toInt
    require(topV > 0 && topB > 0, "top_v and top_b must be positive")
    val minScore = config.get("min_score").map(_.toString.toDouble)

    val spark = sources.head.sparkSession
    // ONE bigram-expansion expression for model build AND scoring: the
    // exact-batch-parity guarantee depends on the two sites staying
    // character-identical (same chr(1) separator, same struct fields) —
    // a drift between private copies would shift lm_score with no error
    val bigramSql =
      "transform(sequence(1, size(__ts) - 1), i -> struct(" +
        "element_at(__ts, i) AS w1, " +
        "concat(element_at(__ts, i), chr(1), element_at(__ts, i + 1))" +
        " AS bg))"
    // one read + bigram expansion for both bounded model collects
    // (≤ topV + topB rows total)
    val refPairs = spark.read.parquet(refPath)
      .select(Text.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(explode(expr(bigramSql)).as("__p"))
      .select(col("__p.w1").as("__w1"), col("__p.bg").as("__bg"))
    val (c1Map, cbMap) = Ops.withPersisted(refPairs) { pairs =>
      val firsts = pairs.groupBy("__w1").agg(count(lit(1)).as("__c1"))
        .orderBy(col("__c1").desc, col("__w1").asc).limit(topV)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bigrams = pairs.groupBy("__bg").agg(count(lit(1)).as("__cb"))
        .orderBy(col("__cb").desc, col("__bg").asc).limit(topB)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (firsts, bigrams)
    }
    require(c1Map.nonEmpty,
      s"LmGateOp: reference corpus at $refPath has no bigrams")
    val v = c1Map.size.toLong

    val c1Lit = typedLit(c1Map)
    val cbLit = typedLit(cbMap)
    // per-transition Laplace conditional — the same integer ratio and
    // IEEE division as the batch operator, saturation-guarded alike
    def termOf(b: Column): Column = {
      val t = (coalesce(element_at(cbLit, b.getField("bg")), lit(0L))
        + lit(1L)).cast("double") /
        (coalesce(element_at(c1Lit, b.getField("w1")), lit(0L)) + lit(v))
          .cast("double")
      when(t >= lit(9.2e3), raise_error(concat(
        lit("LmGateOp: term >= 9.2e3 overflows the 1e15 fixed-point " +
          "quantization for bigram "), b.getField("bg")))).otherwise(t)
    }
    val dec = "decimal(38,0)"
    val ts = coalesce(Text.tokens(col(textCol)),
      array().cast("array<string>"))
    val bgArr = when(size(col("__ts")) < 2,
      expr("CAST(array() AS array<struct<w1:string,bg:string>>)"))
      .otherwise(expr(bigramSql))
    val scored = sources.head
      .withColumn("__ts", ts)
      .withColumn("__bgs", bgArr)
      .withColumn("n_bigrams", size(col("__bgs")).cast("long"))
      .withColumn("n_oov", aggregate(col("__bgs"), lit(0L),
        (acc, b) => acc + when(
          element_at(cbLit, b.getField("bg")).isNull, 1L).otherwise(0L)))
      .withColumn("__s", aggregate(col("__bgs"), lit(0L).cast(dec),
        (acc, b) => acc + floor(termOf(b) * lit(1e15)).cast(dec)))
      .withColumn("lm_score",
        when(col("n_bigrams") === 0L, lit(0.0)).otherwise(
          col("__s").cast("double") / col("n_bigrams") / lit(1e15)))
      .drop("__ts", "__bgs", "__s")
    Seq(minScore.fold(scored)(m =>
      scored.filter(col("lm_score") >= lit(m))))
  }
}
