package graft
package queries

import org.apache.spark.sql.functions._

import graft.llm.SimSearch

import SparkEntry.{t, toksSql, cosSql, ivfOracleSql}
import Case.oracle

/** North-star similarity search: exact top-k, BM25, hybrid, LSH and
  * IVF retrieval. */
object SimilaritySearch extends Family {

  /** The per-(doc, term) BM25 fixed-point sum fragment over staged
    * columns (tf, dfc, dl, n, c) — replays
    * [[graft.llm.Search]]'s `termScore` IEEE expression shape. */
  private def bm25SumSql =
    s"""CAST(CAST(sum(CAST(floor(
       |    ((CAST(2 * n - 2 * dfc + 1 AS DOUBLE) /
       |      CAST(2 * dfc + 1 AS DOUBLE)) *
       |     ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
       |      (CAST(tf AS DOUBLE) +
       |       (CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)))
       |       +
       |       ((CAST(1.2 AS DOUBLE) * CAST(0.75 AS DOUBLE)) *
       |        ((CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)) /
       |         CAST(c AS DOUBLE))))))
       |    * 1e9) AS BIGINT)) AS HUGEINT) AS DOUBLE) / 1e9""".stripMargin

  /** Oracle body for BM25 (q_bm25 / q_hybrid_topk): replays
    * [[graft.llm.Search.bm25]] — the log-free rational idf, the
    * (k1+1)/k1(1−b)/k1·b constants spelled as the same IEEE expressions
    * over double-cast literals, and the 1e9 fixed-point exact term sum. */
  private def bm25Sql(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents),
       |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
       |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
       |         FROM dl),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
       |  WHERE t IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1)
       |SELECT doc_id, count(*) AS n_terms,
       |       $bm25SumSql AS score
       |FROM tf JOIN dl USING (doc_id) CROSS JOIN tots JOIN dfq USING (t)
       |GROUP BY doc_id""".stripMargin
  }

  val cases: Seq[Case] = Seq(

    Case("q_simsearch_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimSearch.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      oracle(s"""SELECT query_id, nbr_id, cosine, rank FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |         ${cosSql("q.embedding", "c.embedding")} AS cosine,
           |         row_number() OVER (
           |           PARTITION BY q.vec_id
           |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                    c.vec_id) AS rank
           |  FROM embeddings q CROSS JOIN embeddings c
           |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // BM25 lexical retrieval: log-free rational idf, query terms
    // filtered before aggregation, df/N/C broadcast — one
    // shuffle-linear pass
    Case("q_bm25", (s, dir) =>
      graft.llm.Search.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("customer", "window", "filter"))
        .orderBy("doc_id"),
      oracle(s"""${bm25Sql(Seq("customer", "window", "filter"))}
           |ORDER BY doc_id""".stripMargin)),

    // composed retrieval AUDIT: each eval doc's top-3 salient terms
    // (tf-idf over the eval slice) become a BM25 query against the
    // full corpus; top-3 non-self hits per eval doc — "which corpus
    // docs are lexically closest to each benchmark doc", the retrieval
    // face of decontamination review. tfidf → bm25Queries →
    // takeOrderedByKey, every stage individually oracled.
    Case("q_retrieval_audit", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // the query table is BOUNDED by contract (the eval slice ×
      // topN terms — ≤10 rows here); materialize it to the driver
      // once, as a local relation: left as a plan, every broadcast
      // consumer inside bm25Queries (termSet, qterms) re-ran the
      // whole tfidf window subtree — 3 full recomputes and 9 extra
      // scans in the optimized plan
      val qs = graft.llm.TextStats
        .tfidfTop(docs.filter(col("doc_id") < 10), "doc_id", "text",
          topN = 3)
        .groupBy(col("doc_id").as("query_id"))
        .agg(sort_array(collect_list(col("term"))).as("terms"))
        .as[(Long, Seq[String])].collect().toSeq
        .toDF("query_id", "terms")
      val scored = graft.llm.Search
        .bm25Queries(docs, "doc_id", "text", qs)
        .filter(col("query_id") =!= col("doc_id"))
      graft.operators.Ops.takeOrderedByKey(3, col("doc_id"),
        col("score"), Seq(col("query_id")), as = ("doc_id", "score"))(
        scored)
        .orderBy("query_id", "rank")
    },
      oracle(s"""WITH btoks AS (
           |  SELECT doc_id, $toksSql AS ts FROM documents
           |  WHERE doc_id < 10),
           |btf AS (SELECT doc_id, t, count(*)::BIGINT AS btf
           |        FROM (SELECT doc_id, unnest(ts) AS t FROM btoks)
           |        GROUP BY doc_id, t),
           |bdf AS (SELECT t, count(*)::BIGINT AS bdf FROM btf GROUP BY t),
           |bnd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
           |        FROM documents WHERE doc_id < 10),
           |brk AS (SELECT doc_id, t, row_number() OVER (
           |          PARTITION BY doc_id ORDER BY
           |            CAST(btf.btf * bnd.n_docs AS DOUBLE)
           |              / CAST(bdf.bdf AS DOUBLE) DESC, t) AS r
           |        FROM btf JOIN bdf USING (t) CROSS JOIN bnd),
           |qterms AS (SELECT doc_id AS query_id, t FROM brk
           |           WHERE r <= 3),
           |toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl
           |       FROM toks),
           |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
           |         FROM dl),
           |tf AS (
           |  SELECT doc_id, t, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |  WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY 1, 2),
           |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1),
           |sc AS (
           |  SELECT query_id, doc_id, $bm25SumSql AS score
           |  FROM tf JOIN dfq USING (t) JOIN qterms USING (t)
           |       JOIN dl USING (doc_id) CROSS JOIN tots
           |  GROUP BY query_id, doc_id)
           |SELECT query_id, doc_id, score, rank FROM (
           |  SELECT query_id, doc_id, score, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score DESC, doc_id)
           |      AS rank
           |  FROM sc WHERE query_id <> doc_id)
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // batch retrieval: ONE corpus pass scores every query at once —
    // query terms union broadcast-semi-joins the explode; the per-query
    // fan-out is a broadcast of the tiny qterms table
    Case("q_bm25_multi", (s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, Seq("customer", "window")),
        (1L, Seq("filter", "spark")),
        (2L, Seq("merge"))).toDF("query_id", "terms")
      graft.llm.Search.bm25Queries(t(s, dir, "documents"),
          "doc_id", "text", qs)
        .orderBy("query_id", "doc_id")
    },
      oracle(s"""WITH queries(query_id, terms) AS (
           |  VALUES (CAST(0 AS BIGINT), ['customer', 'window']),
           |         (CAST(1 AS BIGINT), ['filter', 'spark']),
           |         (CAST(2 AS BIGINT), ['merge'])),
           |qterms AS (SELECT query_id, unnest(terms) AS t FROM queries),
           |toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl
           |       FROM toks),
           |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
           |         FROM dl),
           |tf AS (
           |  SELECT doc_id, t, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |  WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY 1, 2),
           |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1)
           |SELECT query_id, doc_id, count(*) AS n_terms,
           |       $bm25SumSql AS score
           |FROM tf JOIN dfq USING (t) JOIN qterms USING (t)
           |     JOIN dl USING (doc_id) CROSS JOIN tots
           |GROUP BY query_id, doc_id ORDER BY query_id, doc_id""".stripMargin)),

    // hybrid retrieval: BM25 top-50 + cosine top-50 to the vec_id=0
    // embedding, fused by reciprocal-rank (k=60), top-10 — both lists
    // bounded, so fusion is constant-sized at any corpus scale
    Case("q_hybrid_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.llm.Search.rankTop(
        graft.llm.Search.bm25(docs, "doc_id", "text",
          Seq("customer", "window", "filter")),
        "doc_id", "score", topK = 50)
      val sem = graft.llm.SimSearch.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("nbr_id").as("doc_id"), col("rank"))
      graft.llm.Search.rrfFuse(lex, sem, "doc_id", "rank", topK = 10)
        .orderBy(col("rrf").desc, col("id"))
    },
      oracle(s"""WITH lex0 AS (
           |${bm25Sql(Seq("customer", "window", "filter"))}),
           |lexr AS (
           |  SELECT id, r FROM (
           |    SELECT doc_id AS id,
           |           row_number() OVER (ORDER BY score DESC, doc_id)
           |             AS r
           |    FROM lex0)
           |  WHERE r <= 50),
           |semr AS (
           |  SELECT id, r FROM (
           |    SELECT c.vec_id AS id,
           |           row_number() OVER (
           |             ORDER BY ${cosSql("q.embedding", "c.embedding")}
           |               DESC, c.vec_id) AS r
           |    FROM embeddings c CROSS JOIN embeddings q
           |    WHERE q.vec_id = 0 AND c.vec_id <> 0)
           |  WHERE r <= 50)
           |SELECT coalesce(l.id, s.id) AS id, l.r AS r_a, s.r AS r_b,
           |       (CASE WHEN l.r IS NULL THEN 0.0
           |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + l.r AS DOUBLE)
           |        END +
           |        CASE WHEN s.r IS NULL THEN 0.0
           |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + s.r AS DOUBLE)
           |        END) AS rrf
           |FROM lexr l FULL OUTER JOIN semr s ON l.id = s.id
           |ORDER BY rrf DESC, id LIMIT 10""".stripMargin)),

    Case("q_simsearch_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimSearch.lshTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nBits = 8, seeds = Seq(1, 2, 3, 4))
        .orderBy("query_id", "rank")
    },
      oracle(OracleXxh.q_simsearch_lsh),
      materializeCtes = true),

    // IVF coarse-quantizer ANN (the other scale path besides LSH):
    // deterministic mini-kmeans on a bounded sample, broadcast centroids,
    // map-only cell assignment, probe-and-rank. Oracled bit-exact — the
    // sequential quantizer training replays in SQL (ivfOracleSql); recall
    // vs brute force additionally pinned by IvfSpec.
    Case("q_simsearch_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      graft.llm.Ivf.topK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, model, nProbe = 4)
        .orderBy("query_id", "rank")
    },
      // IVF quantizer + probe: the driver mini-k-means is a sequential
      // deterministic loop, so all 5 Lloyd iterations replay in SQL as
      // ordered list folds — generated CTE blocks (ivfOracleSql)
      oracle(ivfOracleSql(k = 16, iters = 5, nProbe = 4,
        topK = 5)),
      materializeCtes = true)
  )
}
