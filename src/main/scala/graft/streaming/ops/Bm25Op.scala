package graft.streaming.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.llm.Search
import graft.operators.Ops
import graft.streaming.OperatorFactory

/** Streaming BM25 scoring as a topology factory — the query-time face
  * of [[Search.bm25]] for unbounded inputs. Corpus statistics (N, C,
  * per-term df) cannot be derived from a stream consistently, so they
  * are FROZEN from a REFERENCE corpus at wire time (the [[ServeOp]]
  * model-broadcast pattern, stats instead of weights): the factory
  * reads `ref_path` (parquet) once, collects the bounded stats
  * (≤ |terms| df rows + 2 scalars), and scoring becomes a fully
  * STATELESS per-row expression — per-document tf/dl come from the
  * row's own text, the stats ride as literals inside whole-stage
  * codegen. No shuffle, no state store, watermark-free; composes with
  * `config_topic` reconfig (a new ref_path or term list takes effect
  * at the next micro-batch re-wire).
  *
  * Exact batch parity BY CONSTRUCTION: each per-term contribution is
  * the SAME [[Search.termScore]] expression the batch operator plans,
  * fed literal stats — a doc scores bit-identically here and in
  * [[Search.bm25]] over the reference corpus (pinned by SearchSpec).
  * One deliberate divergence: the batch operator emits only matching
  * docs (relational shape), while the stream keeps every row with
  * `n_terms = 0, score = 0.0` unless `drop_nonmatching: true` — a
  * stateless map should not silently drop records.
  *
  * Config: `terms` (YAML list or comma-joined string), `ref_path`
  * (parquet reference corpus), `text_col` ("text"), `k1` (1.2),
  * `b` (0.75), `drop_nonmatching` (false). Output: source columns +
  * (n_terms, score). */
object Bm25Op extends OperatorFactory {
  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame] = {
    val raw: Seq[String] = config.getOrElse("terms",
      sys.error("Bm25Op needs config key terms")) match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case l: Seq[_]            => l.map(_.toString)
      case s => s.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    // tokens are lowercased — normalize terms the same way (a
    // mixed-case term would silently score zero)
    val terms = raw.map(_.trim.toLowerCase)
    require(terms.nonEmpty, "Bm25Op: empty term list")
    require(terms.forall(_.nonEmpty), "Bm25Op: blank term")
    require(terms.distinct.size == terms.size,
      s"Bm25Op: duplicate terms after lowercasing: $terms")
    val refPath = config.getOrElse("ref_path",
      sys.error("Bm25Op needs config key ref_path")).toString
    val k1 = config.getOrElse("k1", 1.2).toString.toDouble
    val b = config.getOrElse("b", 0.75).toString.toDouble
    val textCol = config.getOrElse("text_col", "text").toString
    val drop = config.getOrElse("drop_nonmatching", false).toString.toBoolean

    val spark = sources.head.sparkSession
    // one read + tokenize for both bounded stats jobs (1 totals row +
    // ≤|terms| df rows collected)
    val refTokens = spark.read.parquet(refPath)
      .select(Text.tokens(col(textCol)).as("__ts"))
    val (n, c, dfMap) = Ops.withPersisted(refTokens) { ref =>
      val tot = ref.agg(count(lit(1)).as("n"),
        sum(size(col("__ts")).cast("long").cast("decimal(38,0)"))
          .cast("long").as("c")).head
      val m = ref
        .select(explode(array_distinct(col("__ts"))).as("__t"))
        .filter(col("__t").isin(terms: _*))
        .groupBy("__t").agg(count(lit(1)).as("__df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (tot.getLong(0), tot.getLong(1), m)
    }
    require(n > 0, s"Bm25Op: empty reference corpus at $refPath")

    val src = sources.head
    def tfOf(t: String): Column =
      size(filter(col("__ts"), x => x === lit(t))).cast("long")
    // stage the termScore inputs per term and reuse the EXACT batch
    // expression; per-term fixed-point longs sum associatively (exact)
    val staged = terms.zipWithIndex.foldLeft(
      // NULL text must keep the documented n_terms=0/score=0.0
      // contract (size/filter of a NULL array is NULL otherwise, and a
      // NULL n_terms would silently vanish under drop_nonmatching)
      src.withColumn("__ts",
          coalesce(Text.tokens(col(textCol)),
            array().cast("array<string>")))
        .withColumn("__dl", size(col("__ts")).cast("long"))
        .withColumn("__n", lit(n)).withColumn("__c", lit(c))) {
      case (d, (t, i)) =>
        d.withColumn("__t", lit(t))
          .withColumn("__tf", tfOf(t))
          .withColumn("__df", lit(dfMap.getOrElse(t, 0L)))
          .withColumn(s"__fx$i",
            floor(Search.termScore(k1, b, col("__t")) * lit(1e9))
              .cast("long"))
          .withColumn(s"__hit$i", (col("__tf") > 0L).cast("long"))
    }
    // decimal sum like the batch aggregate — per-term longs can reach
    // ~9.2e18 each under the guard, so a LongType '+' could overflow
    // on multi-term matches where the batch decimal(38,0) sum succeeds
    val sumFx = terms.indices.map(i =>
      col(s"__fx$i").cast("decimal(38,0)")).reduce(_ + _)
    val nTerms = terms.indices.map(i => col(s"__hit$i"))
      .reduce(_ + _)
    val scored = staged
      .withColumn("n_terms", nTerms)
      .withColumn("score", sumFx.cast("double") / lit(1e9))
      .drop("__ts" :: "__dl" :: "__n" :: "__c" :: "__t" :: "__tf" ::
        "__df" :: Nil ++
        terms.indices.flatMap(i => Seq(s"__fx$i", s"__hit$i")): _*)
    Seq(if (drop) scored.filter(col("n_terms") > 0L) else scored)
  }
}
