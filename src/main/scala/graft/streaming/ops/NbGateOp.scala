package graft.streaming.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Ops
import graft.streaming.OperatorFactory

/** Streaming Naive-Bayes quality gate — the ingest-time face of
  * [[graft.llm.TextStats.nbQualityScore]] (the fastText-style GPT-3/
  * LLaMA "reference-like" data filter): the classifier (top-V vocab
  * with per-class Laplace counts, the two class token totals, V) is
  * FROZEN at wire time from TWO parquet corpora — `ref_path` the
  * positive exemplar class, `corpus_path` the negative background —
  * and rides the plan as two map literals plus three long constants
  * (the [[Bm25Op]]/[[LmGateOp]] pattern), so scoring is a fully
  * STATELESS per-row fold over the row's own tokens: no shuffle, no
  * state store; composes with `config_topic` reconfig for model
  * refresh.
  *
  * The batch operator uses the scored corpus ITSELF as the negative
  * class; a stream cannot see its own totality, so the streaming form
  * freezes the background explicitly. Exact batch parity BY
  * CONSTRUCTION when the background is the batch input: each token
  * term is the same exact decimal product pair and the same single
  * IEEE division, fixed-point-summed in decimal exactly like the
  * batch aggregate — a doc scores bit-identically here and in
  * `nbQualityScore(corpus, ref)` (pinned by TextDedupSpec).
  * Divergence by design: batch emits no row for token-less docs; the
  * stream keeps every row with `n_tokens = 0, nb_score = 0.0` (a gate
  * decides, it doesn't silently drop) unless `min_score` is set,
  * which drops rows scoring strictly below it — including the
  * zero-token rows.
  *
  * Config: `ref_path` (positive-class parquet), `corpus_path`
  * (negative-class parquet), `text_col` ("text"), `ref_text_col`
  * (defaults to `text_col`), `top_v` (10000), `min_score` (optional
  * gate). Output: source columns + (n_tokens, n_oov, nb_score). */
object NbGateOp extends OperatorFactory {
  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame] = {
    val refPath = config.getOrElse("ref_path",
      sys.error("NbGateOp needs config key ref_path")).toString
    val corpusPath = config.getOrElse("corpus_path",
      sys.error("NbGateOp needs config key corpus_path")).toString
    val textCol = config.getOrElse("text_col", "text").toString
    val refTextCol = config.getOrElse("ref_text_col", textCol).toString
    val topV = config.getOrElse("top_v", 10000).toString.toInt
    require(topV > 0, "top_v must be positive")
    val minScore = config.get("min_score").map(_.toString.toDouble)

    val spark = sources.head.sparkSession
    // frozen model: two bounded collects (vocab ≤ topV rows; totals are
    // aggregates of the cached token frames, the corpora never reach
    // the driver row-wise)
    def toks(path: String, c: String): DataFrame =
      spark.read.parquet(path).select(explode(Text.tokens(col(c))).as("__w"))
    val (cpMap, cnMap, np, nn) =
      Ops.withPersisted(toks(refPath, refTextCol)) { refToks =>
        Ops.withPersisted(toks(corpusPath, textCol)) { corpusToks =>
          val cPos = refToks.groupBy("__w").agg(count(lit(1)).as("__cp"))
          val cNeg = corpusToks.groupBy("__w").agg(count(lit(1)).as("__cn"))
          val vocab = cPos.join(cNeg, Seq("__w"), "full_outer")
            .select(col("__w"),
              coalesce(col("__cp"), lit(0L)).as("__cp"),
              coalesce(col("__cn"), lit(0L)).as("__cn"))
            .orderBy((col("__cp") + col("__cn")).desc, col("__w").asc)
            .limit(topV)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          val npv = refToks.count()
          val nnv = corpusToks.count()
          (vocab.map(v => v._1 -> v._2).toMap,
            vocab.map(v => v._1 -> v._3).toMap, npv, nnv)
        }
      }
    require(cpMap.nonEmpty,
      s"NbGateOp: no tokens in $refPath + $corpusPath")
    val v = cpMap.size.toLong

    val cpLit = typedLit(cpMap)
    val cnLit = typedLit(cnMap)
    val dec = "decimal(38,0)"
    // per-token likelihood ratio — the same exact decimal products and
    // single IEEE division as the batch operator, saturation-guarded
    // alike (vocab tokens hit the maps, including stored zeros; a miss
    // in BOTH maps is OOV and takes the pure-smoothing ratio)
    def termOf(w: Column): Column = {
      val numc = (coalesce(element_at(cpLit, w), lit(0L)) + lit(1L))
        .cast(dec) * lit(nn + v).cast(dec)
      val denc = (coalesce(element_at(cnLit, w), lit(0L)) + lit(1L))
        .cast(dec) * lit(np + v).cast(dec)
      val t = numc.cast("double") / denc.cast("double")
      when(t >= lit(9.2e6), raise_error(concat(
        lit("NbGateOp: likelihood ratio >= 9.2e6 overflows the 1e12 " +
          "fixed-point quantization for token "), w))).otherwise(t)
    }
    val ts = coalesce(Text.tokens(col(textCol)),
      array().cast("array<string>"))
    val scored = sources.head
      .withColumn("__ts", ts)
      .withColumn("n_tokens", size(col("__ts")).cast("long"))
      .withColumn("n_oov", aggregate(col("__ts"), lit(0L),
        (acc, w) => acc + when(element_at(cpLit, w).isNull, 1L)
          .otherwise(0L)))
      .withColumn("__s", aggregate(col("__ts"), lit(0L).cast(dec),
        (acc, w) => acc + floor(termOf(w) * lit(1e12)).cast(dec)))
      .withColumn("nb_score",
        when(col("n_tokens") === 0L, lit(0.0)).otherwise(
          col("__s").cast("double") / col("n_tokens") / lit(1e12)))
      .drop("__ts", "__s")
    Seq(minScore.fold(scored)(m =>
      scored.filter(col("nb_score") >= lit(m))))
  }
}
