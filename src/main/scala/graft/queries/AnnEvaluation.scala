package graft
package queries

import org.apache.spark.sql.functions._

import graft.llm.SimSearch

import SparkEntry.{t, cosSql, ivfOracleSql}
import Case.oracle

/** North-star ANN index evaluation: recall, MRR, dimension ablation,
  * key skew and PCA. */
object AnnEvaluation extends Family {

  /** DuckDB replica of [[graft.llm.Pca.fit]]: quantized exact integer
    * moments (HUGEINT sums ≡ Spark's decimal(38,0)), one double
    * conversion + division per covariance cell, then `iters` unrolled
    * power-iteration CTE blocks per component with the IDENTICAL IEEE op
    * sequence (list_prepend(0.0, …) ordered folds = the driver's
    * left-to-right loops; correctly-rounded sqrt; deflation with the
    * pinned `c − λ·v_j·v_i` association). `finalSelect` appends the
    * fit-frame or projection finale. */
  private def pcaOracleSql(k: Int, iters: Int, finalSelect: String)
      : String = {
    require(k >= 1 && k <= 4, s"unrolled oracle supports k<=4, got $k")
    val compBlocks = (0 until k).map { c =>
      val iterBlocks = (1 to iters).map { t =>
        s"""w_c${c}_$t AS (SELECT list(wj ORDER BY j) AS w FROM (
           |  SELECT cv.j, list_reduce(list_prepend(0.0,
           |      list(cv.c * vv.v[cv.i + 1] ORDER BY cv.i)),
           |    (a, b) -> a + b) AS wj
           |  FROM cov$c cv, v_c${c}_${t - 1} vv GROUP BY cv.j) s_w),
           |v_c${c}_$t AS (SELECT list_transform(w, x -> x / lam) AS v,
           |    lam FROM (
           |  SELECT w, sqrt(list_reduce(list_prepend(0.0,
           |      list_transform(w, x -> x * x)), (a, b) -> a + b)) AS lam
           |  FROM w_c${c}_$t) s_n),""".stripMargin
      }.mkString("\n")
      val deflate =
        if (c + 1 < k)
          s"""cov${c + 1} AS MATERIALIZED (
             |  SELECT cv.j, cv.i,
             |    cv.c - f.lam * f.v[cv.j + 1] * f.v[cv.i + 1] AS c
             |  FROM cov$c cv, v_c${c}_$iters f),""".stripMargin
        else ""
      s"""v_c${c}_0 AS (SELECT list(
         |    1.0 / sqrt(CAST(dd.d AS DOUBLE)) ORDER BY dp.p) AS v
         |  FROM dpos dp, dd),
         |$iterBlocks
         |$deflate""".stripMargin
    }.mkString("\n").trim.stripSuffix(",")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |nn AS (SELECT count(*)::BIGINT AS n FROM q),
       |dpos AS MATERIALIZED (SELECT unnest(range(0,
       |  (SELECT max(len(embedding)) FROM embeddings)))::INTEGER AS p),
       |dd AS (SELECT count(*)::BIGINT AS d FROM dpos),
       |gram AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b,
       |    sum(CAST(qv[a.p + 1] * qv[b.p + 1] AS HUGEINT)) AS s
       |  FROM q, dpos a, dpos b WHERE b.p >= a.p GROUP BY a.p, b.p),
       |mv AS MATERIALIZED (SELECT i.p AS i,
       |    sum(CAST(qv[i.p + 1] AS HUGEINT)) AS m
       |  FROM q, dpos i GROUP BY i.p),
       |cov0 AS MATERIALIZED (
       |  SELECT dj.p AS j, di.p AS i,
       |    CAST(nn.n * g.s - mj.m * mi.m AS DOUBLE) /
       |      (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) *
       |       1073741824.0) AS c
       |  FROM dpos dj CROSS JOIN dpos di
       |    JOIN gram g ON g.a = least(dj.p, di.p)
       |      AND g.b = greatest(dj.p, di.p)
       |    JOIN mv mj ON mj.i = dj.p
       |    JOIN mv mi ON mi.i = di.p
       |    CROSS JOIN nn),
       |$compBlocks
       |$finalSelect""".stripMargin
  }

  val cases: Seq[Case] = Seq(

    // recall@5 of the IVF index against brute-force ground truth — the
    // harness that tunes nProbe before a corpus-wide rollout; both
    // inputs bounded top-k frames, so the eval is |queries|·k-sized
    Case("q_ann_recall", (s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      val approx = graft.llm.Ivf.topK(e, qs,
        "vec_id", "embedding", k = 5, model, nProbe = 4)
      SimSearch.recallAtK(exact, approx).orderBy("query_id")
    },
      // recall@5: brute-force ground truth vs the full IVF replay (the
      // same ivfOracleSql the q_simsearch_ivf oracle runs), joined on
      // (query_id, nbr_id) — one LEFT JOIN so zero-hit queries keep a row
      oracle(s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |ivf AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    ${ivfOracleSql(k = 16, iters = 5, nProbe = 4, topK = 5)}
           |  ) ivfq),
           |h AS (SELECT b.query_id, count(*)::BIGINT AS n_hits
           |  FROM brute b JOIN ivf i ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY b.query_id),
           |kk AS (SELECT query_id, count(*)::BIGINT AS k_eff
           |  FROM brute GROUP BY query_id)
           |SELECT kk.query_id,
           |  coalesce(h.n_hits, 0)::BIGINT AS n_hits, kk.k_eff,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) /
           |    CAST(kk.k_eff AS DOUBLE) AS recall
           |FROM kk LEFT JOIN h USING (query_id)
           |ORDER BY query_id""".stripMargin),
      materializeCtes = true),

    // dimension-budget ablation: recall@5 of brute-force search over
    // the FIRST-16-dims truncation vs the full-64-dim ground truth —
    // "how many dims does retrieval actually need" answered with the
    // same bounded eval harness (truncation = map-only slice)
    Case("q_dim_ablation", (s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val cut = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = SimSearch.bruteForceTopK(cut,
        cut.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      SimSearch.recallAtK(exact, approx).orderBy("query_id")
    },
      // dim-ablation replay: both top-5 lists brute-force (full vs
      // list_slice 16-dim), the recall join unchanged
      oracle(s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |cut AS MATERIALIZED (SELECT vec_id,
           |    list_slice(embedding, 1, 16) AS embedding
           |  FROM embeddings),
           |approx AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM cut q CROSS JOIN cut c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |h AS (SELECT b.query_id, count(*)::BIGINT AS n_hits
           |  FROM brute b JOIN approx i ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY b.query_id),
           |kk AS (SELECT query_id, count(*)::BIGINT AS k_eff
           |  FROM brute GROUP BY query_id)
           |SELECT kk.query_id,
           |  coalesce(h.n_hits, 0)::BIGINT AS n_hits, kk.k_eff,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) /
           |    CAST(kk.k_eff AS DOUBLE) AS recall
           |FROM kk LEFT JOIN h USING (query_id)
           |ORDER BY query_id""".stripMargin)),

    // reciprocal-rank companion to q_ann_recall: where the IVF list
    // first hits a true neighbor, per query (the MRR building block)
    Case("q_ann_mrr", (s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      val approx = graft.llm.Ivf.topK(e, qs,
        "vec_id", "embedding", k = 5, model, nProbe = 4)
      SimSearch.reciprocalRank(exact, approx).orderBy("query_id")
    },
      oracle(s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |ivf AS MATERIALIZED (
           |  SELECT query_id, nbr_id, rank FROM (
           |    ${ivfOracleSql(k = 16, iters = 5, nProbe = 4, topK = 5)}
           |  ) ivfq),
           |f AS (SELECT i.query_id,
           |    CAST(min(i.rank) AS INTEGER) AS first_hit_rank
           |  FROM ivf i JOIN brute b ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY i.query_id),
           |qq AS (SELECT DISTINCT query_id FROM brute)
           |SELECT qq.query_id, f.first_hit_rank,
           |  coalesce(1.0 / CAST(f.first_hit_rank AS DOUBLE), 0.0) AS rr
           |FROM qq LEFT JOIN f USING (query_id)
           |ORDER BY query_id""".stripMargin),
      materializeCtes = true),

    // shuffle-skew diagnosis: top-25 heaviest join-key values with
    // exact counts + corpus share — the "do I need saltedJoin?" probe,
    // one map-side-combined aggregate + a bounded global top-N
    Case("q_key_skew", (s, dir) =>
      graft.operators.Profile.keySkew(t(s, dir, "events"),
        col("user_id"), topN = 25)
        .orderBy(col("cnt").desc, col("key")),
      // key-skew replay: exact per-key counts, 1-row totals, top-25
      oracle("""WITH c AS (SELECT coalesce(CAST(user_id AS VARCHAR), '␀')
          |    AS key, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
          |    count(*)::BIGINT AS n_keys FROM c)
          |SELECT key, cnt,
          |  CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share,
          |  total_rows, n_keys
          |FROM c CROSS JOIN t
          |ORDER BY cnt DESC, key LIMIT 25""".stripMargin)),

    // PCA: exact fixed-point moments (ONE corpus pass, d²-cell map-side
    // combined aggregate), driver power iteration + deflation with a
    // pinned IEEE op sequence — the classically-irreproducible fit,
    // oracled bit-exact (llm/Pca.scala). Output: the k·d model frame.
    Case("q_pca_fit", (s, dir) => {
      val model = graft.llm.Pca.fit(t(s, dir, "embeddings"),
        "embedding", k = 2, iters = 8)
      graft.llm.Pca.modelFrame(s, model).orderBy("component", "i")
    },
      // PCA replays: exact integer moments + unrolled power iteration
      oracle(pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT 0::INTEGER AS component, dp.p AS i,
           |  f.v[dp.p + 1] AS loading, f.lam AS eigenvalue
           |FROM v_c0_8 f, dpos dp
           |UNION ALL
           |SELECT 1::INTEGER, dp.p, f.v[dp.p + 1], f.lam
           |FROM v_c1_8 f, dpos dp
           |ORDER BY component, i""".stripMargin))),

    // map-only projection of the corpus onto the fitted components —
    // the 2-D corpus map / whitening step; DotProduct against literal
    // component arrays, no shuffle
    Case("q_pca_project", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Pca.fit(e, "embedding", k = 2, iters = 8)
      graft.llm.Pca.project(e, "vec_id", "embedding", model)
        .orderBy("vec_id")
    },
      oracle(pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT e.vec_id,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f0.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b) AS p0,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f1.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b) AS p1
           |FROM embeddings e, v_c0_8 f0, v_c1_8 f1
           |ORDER BY vec_id""".stripMargin))),

    // whitened projection: unit variance along retained components —
    // the k-means/SemDeDup preconditioner; one extra IEEE division per
    // row against the driver-literal sqrt(eigenvalue)
    Case("q_pca_whiten", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Pca.fit(e, "embedding", k = 2, iters = 8)
      graft.llm.Pca.project(e, "vec_id", "embedding", model,
        whiten = true).orderBy("vec_id")
    },
      oracle(pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT e.vec_id,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f0.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b)
           |    / sqrt(f0.lam) AS p0,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f1.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b)
           |    / sqrt(f1.lam) AS p1
           |FROM embeddings e, v_c0_8 f0, v_c1_8 f1
           |ORDER BY vec_id""".stripMargin)))
  )
}
