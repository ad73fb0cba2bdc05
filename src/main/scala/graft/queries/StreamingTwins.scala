package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.functions.Text
import graft.operators.Ops

import SparkEntry.{t, scratchDir, writeOnce, toksSql, ivfOracleSql, scd2Sql}
import Case.oracle

/** Streaming-twin factories, oracle-gated in batch mode. The streaming
  * ops were parity-pinned in ScalaTest only, invisible to the oracle
  * gate. Each `_dag` case runs the SAME YAML factories through
  * Topology.runBatch against the SAME oracle as its batch twin
  * (identical SQL by construction), so a factory or runner divergence
  * turns a correctness row red. */
object StreamingTwins extends Family {

  // as-of enrichment through the streaming temporal-join factory:
  // newest view at or before each purchase, ties to the larger
  // event_id (the oracle of q_temporal_join and q_temporal_join_dag)
  private def temporalJoinSql: String =
    """SELECT id, user_id, r_ts, r_value FROM (
      |  SELECT p.event_id AS id, p.user_id, v.ts AS r_ts,
      |         v.value AS r_value,
      |         row_number() OVER (PARTITION BY p.event_id
      |           ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |    ON v.user_id = p.user_id AND v.ts <= p.ts)
      |WHERE rn = 1 ORDER BY id""".stripMargin

  val cases: Seq[Case] = Seq(

    // FunnelOp advance rows -> SqlOp conversion curve == q_funnel_counts
    Case("q_funnel_counts_dag", (s, dir) => {
      val work = scratchDir("graft_funnel_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "event_type", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: advances
           |    kind: memory
           |  - name: curve
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  funnel:
           |    factory: graft.streaming.ops.FunnelOp
           |    sources: [ev]
           |    sinks: [advances]
           |    config:
           |      steps: [view, click, purchase]
           |  curve:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [advances]
           |    sinks: [curve]
           |    config:
           |      sql: >-
           |        SELECT CAST(s.step AS INT) AS step,
           |        CAST(count(a.depth) AS BIGINT) AS users
           |        FROM (SELECT explode(sequence(1, 3)) AS step) s
           |        LEFT JOIN __funnel_adv a ON a.depth = s.step
           |        GROUP BY s.step
           |      views: [__funnel_adv]
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/curve").orderBy("step")
    },
      oracle(MultimodalColumns.funnelCountsSql)),

    // TransitionOp edge rows -> SqlOp count/probability rollup ==
    // q_transitions (per-user ts are unique in the corpus, so the op's
    // (ts, type) in-group sort equals the twin's (ts, event_id))
    Case("q_transitions_dag", (s, dir) => {
      val work = scratchDir("graft_trans_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "event_type", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: edges
           |    kind: memory
           |  - name: trans
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  extract:
           |    factory: graft.streaming.ops.TransitionOp
           |    sources: [ev]
           |    sinks: [edges]
           |  rollup:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [edges]
           |    sinks: [trans]
           |    config:
           |      sql: >-
           |        WITH e0 AS (SELECT src, dst,
           |        CAST(count(*) AS BIGINT) AS w
           |        FROM __trans_edges GROUP BY src, dst),
           |        t AS (SELECT src, CAST(sum(w) AS BIGINT) AS tot
           |        FROM e0 GROUP BY src)
           |        SELECT e0.src, e0.dst, e0.w,
           |        CAST(e0.w AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
           |        FROM e0 JOIN t USING (src)
           |      views: [__trans_edges]
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/trans").orderBy("src", "dst")
    },
      oracle(MultimodalColumns.transitionsSql)),

    // NearDupOp in VERIFY mode through the DAG runner == the batch
    // minhashNovelVerified (the op's one-factory-both-modes contract,
    // StreamingSpec-pinned; now oracled too). Documents carry no
    // event time, so a constant ts rides the frontier write — batch
    // mode runs one window and the count==bands novelty rule reduces
    // to the batch twin's
    Case("q_neardup_dag", (s, dir) => {
      val work = scratchDir("graft_neardup_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: novel
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  neardup:
           |    factory: graft.streaming.ops.NearDupOp
           |    sources: [docs]
           |    sinks: [novel]
           |    config:
           |      verify: true
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/novel")
        .select("doc_id").orderBy("doc_id")
    },
      oracle(OracleXxh.q_minhash_novel_verified)),

    // RollingActivesOp daily register cells through the DAG runner +
    // the shared batch finisher == q_rolling_actives
    Case("q_rolling_actives_dag", (s, dir) => {
      val work = scratchDir("graft_actives_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  actives:
           |    factory: graft.streaming.ops.RollingActivesOp
           |    sources: [ev]
           |    sinks: [cells]
           |    config:
           |      precision: 6
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      graft.streaming.ops.RollingActivesOp.finish(
        s.read.parquet(s"$work/sinks/cells"), windowDays = 7, p = 6)
    },
      oracle(OracleXxh.q_rolling_actives(windowDays = 7))),

    // EMBEDDING-distribution drift (semantic drift monitoring): both
    // snapshot halves assigned against the SAME frozen quantizer (the
    // seeded k=8 centroids), then exact TVD over the cell histograms —
    // "did the embedding distribution move" without any pairwise math
    Case("q_embed_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      def cells(side: DataFrame) =
        graft.llm.KMeans.assign(side, "vec_id", "embedding", m)
          .groupBy(col("cell").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
      graft.llm.Drift.driftFromCounts(
        cells(e.filter(pmod(col("vec_id"), lit(2)) === 0)),
        cells(e.filter(pmod(col("vec_id"), lit(2)) === 1)), "bucket")
    },
      // embedding drift: the q_kmeans_assign chain split into halves,
      // cell histograms through the q_token_drift numerator chain
      oracle(s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |d AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN cents c),
           |asg AS (SELECT vec_id, cell, row_number() OVER (
           |          PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |        FROM d),
           |cl AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
           |ca AS (SELECT cell, count(*) AS cnt_a FROM cl
           |       WHERE vec_id % 2 = 0 GROUP BY 1),
           |cb AS (SELECT cell, count(*) AS cnt_b FROM cl
           |       WHERE vec_id % 2 = 1 GROUP BY 1),
           |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
           |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
           |      FROM ca FULL OUTER JOIN cb USING (cell)),
           |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
           |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE) AS tvd_num,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM tot""".stripMargin)),

    // quota sampling: 3 docs per source drawn weight-proportional to
    // n_chars — the per-stratum form of priority sampling, ranked by
    // the bounded TopKCollect aggregate (no WindowExec)
    Case("q_quota_sample", (s, dir) =>
      (t(s, dir, "documents") >> Ops.prioritySampleByKey(col("doc_id"),
        col("n_chars"), col("source"), kPerStratum = 3, seed = 7))
        .orderBy("stratum", "rank"),
      oracle(OracleXxh.q_quota_sample(kPerStratum = 3,
        seed = 7))),

    // collocation mining: adjacent bigrams ranked by exact-rational
    // LIFT (log-free PMI) with a support floor — "new york"-style
    // multiword expressions out of the raw corpus
    Case("q_collocations", (s, dir) =>
      graft.llm.TextStats.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 30),
      // collocations: sliced-list bigram expansion (the bigramLik
      // pattern), HUGEINT cross-products, one IEEE division
      oracle(s"""WITH toks AS (SELECT $toksSql AS ts FROM documents),
           |uni AS (SELECT w, count(*) AS c FROM (
           |  SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
           |n AS (SELECT sum(c)::HUGEINT AS n FROM uni),
           |pr AS (
           |  SELECT w1, w2, count(*) AS c_ab FROM (
           |    SELECT unnest(list_transform(ts[1:len(ts)-1],
           |      (x, i) -> {'w1': x, 'w2': ts[i+1]}),
           |      recursive := true)
           |    FROM toks WHERE len(ts) >= 2)
           |  GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT pr.w1, pr.w2, pr.c_ab, a.c AS c_a, b.c AS c_b,
           |       CAST(pr.c_ab::HUGEINT * n.n AS DOUBLE)
           |         / CAST(a.c::HUGEINT * b.c::HUGEINT AS DOUBLE)
           |         AS lift
           |FROM pr JOIN uni a ON a.w = pr.w1
           |JOIN uni b ON b.w = pr.w2 CROSS JOIN n
           |ORDER BY lift DESC, pr.w1, pr.w2 LIMIT 30""".stripMargin)),

    // the SQL escape hatch as a topology operator: YAML-declared
    // spark.sql over the source topic registered as a view — Catalyst
    // end to end, no Scala required of the operator author
    Case("q_sql_op", (s, dir) =>
      graft.streaming.ops.SqlOp(Map(
        "views" -> Seq("ev"),
        "sql" -> ("SELECT event_type, count(*) AS n, " +
          "CAST(min(value) AS DOUBLE) AS min_v, " +
          "CAST(max(value) AS DOUBLE) AS max_v " +
          "FROM ev GROUP BY event_type ORDER BY event_type")),
        Seq(t(s, dir, "events"))).head,
      // the SqlOp transform is itself SQL — the oracle is the same text
      oracle("""SELECT event_type, count(*) AS n,
          |       CAST(min(value) AS DOUBLE) AS min_v,
          |       CAST(max(value) AS DOUBLE) AS max_v
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // composed MONITORING pipeline — the nightly corpus-health run in
    // one plan: today's snapshot (even ids) vs reference (odd ids),
    // per source: volume, Gopher pass count, and exact TVD drift vs
    // the reference distribution; every stage individually oracled,
    // the composition hash-matched end to end
    Case("q_pipeline_monitor", (s, dir) => {
      val docs = t(s, dir, "documents")
      // split on mod 3, not parity: doc_id parity correlates with
      // source in the fixture (even ids land in even sources), and a
      // monitor demo where every source appears on both sides is the
      // honest one
      val snap = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val ref = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val drift = graft.llm.Drift
        .driftByStratum(snap, "source", "text", ref, "text")
        .withColumnRenamed("stratum", "source")
      val card = snap
        .select(col("source"),
          graft.functions.GopherAdmit(col("text")).as("__ga"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__ga") >= 0L, 1L)
            .otherwise(0L)).as("n_gopher_pass"))
      card.join(drift, "source")
        .select("source", "n_docs", "n_gopher_pass", "n_a", "n_b",
          "tvd_num", "tvd")
        .orderBy("source")
    },
      // composed monitoring: per-source card (docs, gopher passes) +
      // the q_drift_by_source TVD chain against the odd-id reference
      oracle(s"""WITH snap AS (
           |  SELECT source, $toksSql AS ts FROM documents
           |  WHERE doc_id % 3 = 0),
           |card AS (
           |  SELECT source, count(*)::BIGINT AS n_docs,
           |    sum(CASE WHEN
           |      len(ts) BETWEEN 50 AND 100000
           |      AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |          AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |      AND CAST(len(list_filter(ts,
           |          t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |          / len(ts) >= 0.8
           |      AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |          OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |      AND len(list_filter(ts, t -> list_contains(
           |          ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |           'with'], t))) >= 2
           |      THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass
           |  FROM snap GROUP BY 1),
           |sc AS (
           |  SELECT source AS stratum, token, count(*) AS cnt_a FROM (
           |    SELECT source, unnest(ts) AS token FROM snap)
           |  GROUP BY 1, 2),
           |rc AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 3 <> 0) GROUP BY 1),
           |tot AS (SELECT sum(cnt_b)::HUGEINT AS n_b FROM rc),
           |st AS (SELECT stratum, sum(cnt_a)::HUGEINT AS n_a FROM sc
           |       GROUP BY 1),
           |j AS (SELECT sc.stratum, sc.cnt_a::HUGEINT AS ca,
           |             coalesce(rc.cnt_b, 0)::HUGEINT AS cb
           |      FROM sc LEFT JOIN rc USING (token)),
           |agg AS (
           |  SELECT j.stratum,
           |         sum(abs(j.ca * tot.n_b - j.cb * st.n_a)) AS s1,
           |         sum(j.cb) AS m,
           |         any_value(st.n_a) AS n_a, any_value(tot.n_b) AS n_b
           |  FROM j JOIN st ON st.stratum = j.stratum CROSS JOIN tot
           |  GROUP BY j.stratum)
           |SELECT card.source, card.n_docs, card.n_gopher_pass,
           |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE) AS tvd_num,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM card JOIN agg ON agg.stratum = card.source
           |ORDER BY card.source""".stripMargin)),

    // changepoint series: exact TVD between each hour's value histogram
    // and the previous present hour's — drift monitoring WITHOUT a
    // reference corpus (a spike marks the hour the distribution moved)
    Case("q_adjacent_drift", (s, dir) => {
      val ev = t(s, dir, "events")
      val x = col("value").cast("double")
      val bucket = least(greatest(
        floor((x - lit(0.0)) / lit(500.0) * lit(8.0)), lit(0L)), lit(7L))
      val cells = ev.groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        bucket.as("bucket")).agg(count(lit(1)).as("cnt"))
      graft.llm.Drift.adjacentDrift(cells).orderBy("window_start")
    },
      // adjacent-window self-drift over hourly value histograms:
      // present-window rank pairing, per-pair bucket-union full outer,
      // the q_token_drift numerator chain
      oracle("""WITH cells AS (
          |  SELECT date_trunc('hour', ts) AS w,
          |         CAST(least(greatest(
          |           floor((value - 0.0) / 500.0 * 8.0), 0), 7)
          |           AS BIGINT) AS bucket,
          |         count(*) AS cnt
          |  FROM events GROUP BY 1, 2),
          |tot AS (SELECT w, sum(cnt)::HUGEINT AS tot,
          |               row_number() OVER (ORDER BY w) AS r
          |        FROM cells GROUP BY w),
          |pairs AS (SELECT c.w AS w, p.w AS pw,
          |                 c.tot AS n_a, p.tot AS n_b
          |          FROM tot c JOIN tot p ON c.r = p.r + 1),
          |bks AS (SELECT DISTINCT w, pw, bucket FROM (
          |  SELECT pairs.w, pairs.pw, cells.bucket FROM pairs
          |  JOIN cells ON cells.w = pairs.w
          |  UNION ALL
          |  SELECT pairs.w, pairs.pw, cells.bucket FROM pairs
          |  JOIN cells ON cells.w = pairs.pw)),
          |j AS (SELECT b.w, b.pw,
          |             coalesce(a.cnt, 0)::HUGEINT AS ca,
          |             coalesce(p.cnt, 0)::HUGEINT AS cb
          |      FROM bks b
          |      LEFT JOIN cells a ON a.w = b.w AND a.bucket = b.bucket
          |      LEFT JOIN cells p ON p.w = b.pw AND p.bucket = b.bucket),
          |agg AS (SELECT j.w, j.pw,
          |               sum(abs(ca * t.n_b - cb * t.n_a)) AS s,
          |               any_value(t.n_a) AS n_a, any_value(t.n_b) AS n_b
          |        FROM j JOIN pairs t ON t.w = j.w GROUP BY j.w, j.pw)
          |SELECT w AS window_start, pw AS prev_start,
          |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |       CAST(s AS DOUBLE) AS tvd_num,
          |       CAST(s AS DOUBLE)
          |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |         AS tvd
          |FROM agg ORDER BY 1""".stripMargin),
      materializeCtes = true),

    // the streaming temporal-join factory in batch mode: purchases
    // enriched with the same user's newest view value at event time
    // (the FMGWS state machine, exact as-of semantics — parity with
    // AsOfJoin pinned by TemporalJoinSpec, hash-matched here)
    Case("q_temporal_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), col("ts"),
          col("event_id").as("id"))
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("k"), col("ts"),
          col("value").cast("string").as("v"),
          col("event_id").as("tie"))
      graft.streaming.ops.TemporalJoinOp(Map("key_col" -> "k",
        "timestamp_col" -> "ts", "id_col" -> "id", "value_col" -> "v",
        "tie_col" -> "tie"), Seq(l, r)).head
        .select(col("id"), col("k").cast("long").as("user_id"),
          col("r_ts"),
          // the op carries values as strings for type-generality; the
          // double→string→double round-trip is exact (shortest-roundtrip
          // rendering), so casting back oracles against the raw column
          col("r_value").cast("double").as("r_value"))
        .orderBy("id")
    },
      // as-of enrichment through the streaming temporal-join factory:
      // newest view at or before each purchase, ties to the larger
      // event_id
      oracle(temporalJoinSql)),

    // the SAME as-of enrichment, but wired as a TWO-SOURCE YAML
    // topology: SqlOp stages shape the purchase/view streams into the
    // op's (k, ts, id) / (k, ts, v, tie) contracts, TemporalJoinOp
    // consumes both through Topology.runBatch — the only multi-source
    // STATEFUL factory in the DAG-gated family
    Case("q_temporal_join_dag", (s, dir) => {
      val work = scratchDir("graft_tj_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "ts", "value")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: lefts
           |    kind: memory
           |  - name: rights
           |    kind: memory
           |  - name: joined
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  mklefts:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [ev]
           |    sinks: [lefts]
           |    config:
           |      sql: >-
           |        SELECT user_id AS k, ts, event_id AS id
           |        FROM __tj_ev_l WHERE event_type = 'purchase'
           |      views: [__tj_ev_l]
           |  mkrights:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [ev]
           |    sinks: [rights]
           |    config:
           |      sql: >-
           |        SELECT user_id AS k, ts,
           |        CAST(value AS STRING) AS v, event_id AS tie
           |        FROM __tj_ev_r WHERE event_type = 'view'
           |      views: [__tj_ev_r]
           |  asof:
           |    factory: graft.streaming.ops.TemporalJoinOp
           |    sources: [lefts, rights]
           |    sinks: [joined]
           |    config:
           |      key_col: k
           |      timestamp_col: ts
           |      id_col: id
           |      value_col: v
           |      tie_col: tie
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/joined")
        .select(col("id"), col("k").cast("long").as("user_id"),
          col("r_ts"), col("r_value").cast("double").as("r_value"))
        .orderBy("id")
    },
      oracle(temporalJoinSql)),

    // DriftOp through the DAG runner: the streaming corpus-drift
    // monitor's windowed bucket cells (per-window hashed-token counts,
    // state bounded at `buckets` rows) written by Topology.runBatch,
    // then the documented batch finisher (DriftOp.finish = TVD of each
    // finalized window vs a frozen reference corpus at the same
    // (buckets, seed)). Input capped (480 docs, 4 synthetic hourly
    // windows from doc_id) so the row stays ≤~0.3s at any sf;
    // window_start ships as epoch seconds (the q_tumbling_hour
    // convention — no cross-engine timestamp canonicalization risk)
    Case("q_drift_dag", (s, dir) => {
      val work = scratchDir("graft_drift_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 0 &&
            col("doc_id") < 480)
          .select(col("doc_id"), col("text"),
            (lit(1704067200L) +
              pmod(floor(col("doc_id") / 2).cast("long"), lit(4)) *
                lit(3600L)).cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  drift:
           |    factory: graft.streaming.ops.DriftOp
           |    sources: [docs]
           |    sinks: [cells]
           |    config:
           |      window: 1 hour
           |      buckets: 64
           |      seed: 0
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      val cells = s.read.parquet(s"$work/sinks/cells")
      val ref = graft.llm.Drift.bucketCounts(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1 &&
            col("doc_id") < 480),
        "text", buckets = 64, seed = 0)
      graft.streaming.ops.DriftOp.finish(cells, ref)
        .select(col("window_start").cast("long").as("window_start"),
          col("n_a"), col("n_b"), col("tvd_num"), col("tvd"))
        .orderBy("window_start")
    },
      oracle(OracleXxh.q_drift_dag(buckets = 64, seed = 0,
        epoch0 = 1704067200L))),

    // ScdOp through the DAG runner: the streaming SCD2 interval
    // builder in batch mode (open runs finalize as is_current rows) ==
    // the batch twin Scd.scd2 on the same slice — the q_scd2 oracle
    // parameterized to the capped input (user_id % 5 = 0 keeps the
    // materialize+rescan twin ≤~0.3s at sf0.1)
    Case("q_scd_dag", (s, dir) => {
      val work = scratchDir("graft_scd_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events")
          .filter(pmod(col("user_id"), lit(5)) === 0)
          .select("user_id", "event_type", "ts", "event_id")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: intervals
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  scd:
           |    factory: graft.streaming.ops.ScdOp
           |    sources: [ev]
           |    sinks: [intervals]
           |    config:
           |      key_col: user_id
           |      state_col: event_type
           |      timestamp_col: ts
           |      tie_col: event_id
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/intervals")
        .select(col("key").as("user_id"), col("state"),
          col("effective_from"), col("effective_to"),
          col("is_current"), col("n_events"))
        .orderBy("user_id", "effective_from", "state")
    },
      oracle(scd2Sql("user_id % 5 = 0"))),

    // SimSearchOp through the DAG runner: streaming similarity search
    // against the FROZEN IVF corpus index, in batch mode — the last
    // headline streaming factory without an oracle-gated row. Fixture
    // matches q_simsearch_ivf exactly (full embeddings corpus, queries
    // vec_id < 5, ivf_k=16 / nprobe=4 / k=5), single constant-ts
    // window (the q_neardup_dag convention), so the oracle is the
    // SAME ivfOracleSql with the constant window_start prepended — a
    // factory/runner/config-plumbing divergence from the directly
    // oracled batch path shows up as a red oracle row
    Case("q_simsearch_dag", (s, dir) => {
      val work = scratchDir("graft_simsearch_dag", dir)
      // the frozen corpus is read DIRECTLY from the sf table ("last
      // night's batch artifact" — SimSearchOp scaladoc); only the
      // query stream goes through a scratch fixture (it needs a ts)
      writeOnce(s"$work/queries") {
        t(s, dir, "embeddings").filter(col("vec_id") < 5)
          .withColumn("ts",
            lit("2024-01-01 00:00:00").cast("timestamp"))
          .write.mode("overwrite").parquet(s"$work/queries")
      }
      val yaml =
        s"""topics:
           |  - name: queries
           |    kind: parquet
           |    path: $work/queries
           |  - name: hits
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  simsearch:
           |    factory: graft.streaming.ops.SimSearchOp
           |    sources: [queries]
           |    sinks: [hits]
           |    config:
           |      corpus_dir: $dir/embeddings.parquet
           |      window: 1 hour
           |      k: 5
           |      ivf_k: 16
           |      nprobe: 4
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/hits")
        .select(col("window_start").cast("long").as("window_start"),
          col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // same quantizer replay as q_simsearch_ivf; the single-ts
      // fixture's window floors to the constant 2024-01-01 epoch
      oracle(ivfOracleSql(k = 16, iters = 5, nProbe = 4,
        topK = 5,
        selectPrefix = "CAST(1704067200 AS BIGINT) AS window_start, ")),
      materializeCtes = true),

    // NbGateOp through the DAG runner: the frozen-classifier admission
    // gate (the GPT-3/LLaMA "reference-like" data filter) with the
    // batch input itself as the frozen negative background — the
    // configuration under which the stream scores BIT-IDENTICALLY to
    // TextStats.nbQualityScore (NbGateOp scaladoc). min_score: 1.0
    // exercises the gate itself (keep docs more reference-like than
    // background); zero-token rows score 0.0 and drop at the gate.
    // Corpus capped doc_id < 500 (the whole sf0.01 oracle corpus, the
    // q_countmin_dag convention) for bench weight
    Case("q_nbgate_dag", (s, dir) => {
      val work = scratchDir("graft_nbgate_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents").filter(col("doc_id") < 500)
          .select("doc_id", "lang", "text")
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      writeOnce(s"$work/ref") {
        t(s, dir, "documents")
          .filter(col("doc_id") < 500 && col("lang") === "en")
          .select("text")
          .write.mode("overwrite").parquet(s"$work/ref")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: admitted
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  nbgate:
           |    factory: graft.streaming.ops.NbGateOp
           |    sources: [docs]
           |    sinks: [admitted]
           |    config:
           |      ref_path: $work/ref
           |      corpus_path: $work/docs
           |      top_v: 64
           |      min_score: 1.0
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/admitted")
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("nb_score"))
        .orderBy("doc_id")
    },
      // the q_quality_nb replay on the capped corpus, with the gate's
      // two documented divergences: zero-token rows are KEPT with
      // score 0.0 until min_score drops them, and the admitted set is
      // the score >= 1.0 slice (the fixed-point quantized score is
      // bit-identical on both sides, so the threshold boundary cannot
      // flap between engines)
      oracle(s"""WITH corpus AS (
           |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 500),
           |dt AS (
           |  SELECT doc_id, w, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM corpus)
           |  GROUP BY doc_id, w),
           |cpos AS (
           |  SELECT w, count(*)::BIGINT AS cp
           |  FROM (SELECT unnest($toksSql) AS w
           |        FROM corpus WHERE lang = 'en')
           |  GROUP BY w),
           |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
           |vocab AS (
           |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
           |         coalesce(cn, 0)::BIGINT AS cn
           |  FROM cpos FULL OUTER JOIN cneg USING (w)
           |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
           |  LIMIT 64),
           |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
           |                        0)::BIGINT AS np,
           |               coalesce((SELECT sum(c) FROM dt),
           |                        0)::BIGINT AS nn,
           |               (SELECT count(*) FROM vocab)::BIGINT AS v),
           |dn AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens
           |  FROM dt GROUP BY doc_id),
           |dv AS (
           |  SELECT dt.doc_id, sum(dt.c)::BIGINT AS n_v,
           |    sum(dt.c::HUGEINT * floor(
           |      ((vo.cp + 1)::HUGEINT
           |         * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |      ((vo.cn + 1)::HUGEINT
           |         * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |      * 1e12)::HUGEINT) AS s_v
           |  FROM dt JOIN vocab vo USING (w) CROSS JOIN tot
           |  GROUP BY dt.doc_id),
           |scored AS (
           |  SELECT d.doc_id,
           |    coalesce(dn.n_tokens, 0)::BIGINT AS n_tokens,
           |    (coalesce(dn.n_tokens, 0)
           |       - coalesce(dv.n_v, 0))::BIGINT AS n_oov,
           |    CASE WHEN coalesce(dn.n_tokens, 0) = 0 THEN 0.0 ELSE
           |      ((coalesce(dv.s_v, 0::HUGEINT)
           |        + (dn.n_tokens - coalesce(dv.n_v, 0))::HUGEINT
           |          * floor((1::HUGEINT
           |              * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |            (1::HUGEINT
           |              * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |            * 1e12)::HUGEINT)::DOUBLE
           |       / dn.n_tokens / 1e12) END AS nb_score
           |  FROM corpus d LEFT JOIN dn USING (doc_id)
           |       LEFT JOIN dv USING (doc_id) CROSS JOIN tot)
           |SELECT doc_id, n_tokens, n_oov, nb_score FROM scored
           |WHERE nb_score >= 1.0 ORDER BY doc_id""".stripMargin),
      materializeCtes = true),

    // CountMinOp through the DAG runner: a pre-tokenized item stream
    // (constant ts -> one window, the q_neardup_dag convention) flows
    // through CountMinOp into the bounded (window_start, r, bucket,
    // cnt) cell table, and the documented batch finisher
    // (CountMinOp.estimate) answers the exact top-20 lookup. Corpus
    // capped (doc_id < 500 — still the whole sf0.01 oracle corpus)
    // and the token explode lives in the once-per-JVM scaffold, not a
    // per-run SqlOp stage: the op under test is the SKETCH, and a
    // second DAG stage doubled the twin's bench weight for semantics
    // (SqlOp) already gated elsewhere
    Case("q_countmin_dag", (s, dir) => {
      val work = scratchDir("graft_cm_dag", dir)
      writeOnce(s"$work/items") {
        t(s, dir, "documents").filter(col("doc_id") < 500)
          .select(explode(Text.tokens(col("text"))).as("item"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/items")
      }
      val yaml =
        s"""topics:
           |  - name: items
           |    kind: parquet
           |    path: $work/items
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  sketch:
           |    factory: graft.streaming.ops.CountMinOp
           |    sources: [items]
           |    sinks: [cells]
           |    config:
           |      window: 1 hour
           |      item_col: item
           |      depth: 4
           |      width: 1024
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      val cells = s.read.parquet(s"$work/sinks/cells")
      val toks = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(explode(Text.tokens(col("text"))).as("token"))
      val top = toks.groupBy("token")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("token")).limit(20)
      graft.streaming.ops.CountMinOp.estimate(cells, top, col("token"),
        depth = 4, width = 1024)
        .orderBy(desc("true_cnt"), asc("token"))
    },
      // the dag twin caps its corpus (bench-weight budget: the DAG
      // materializes the exploded item stream as a sink parquet)
      oracle(OracleXxh.q_countmin("doc_id < 500"))),

    // CardOp through the DAG runner: the streaming dataset card's
    // windowed per-(lang, source) volumes (constant ts -> one window)
    // written by Topology.runBatch. The op's ONE by-design-approximate
    // column (approx_distinct, Spark's HLL++ over content fingerprints
    // — engine-internal register layout, documented divergence from the
    // exact batch card) is dropped from the projection so every shipped
    // column is deterministic and the row oracles bit-exact
    Case("q_card_dag", (s, dir) => {
      val work = scratchDir("graft_card_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: card
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  card:
           |    factory: graft.streaming.ops.CardOp
           |    sources: [docs]
           |    sinks: [card]
           |    config:
           |      dims: lang,source
           |      window: 1 hour
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/card")
        .select(col("window_start").cast("long").as("window_start"),
          col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_gopher_pass"))
        .orderBy("lang", "source")
    },
      // CardOp's deterministic columns per (lang, source) cell — the
      // q_corpus_card gopher thresholds, single constant-ts window
      oracle(s"""WITH staged AS (
           |  SELECT lang, source, $toksSql AS ts,
           |         len(text)::BIGINT AS nc
           |  FROM documents)
           |SELECT 1704067200::BIGINT AS window_start, lang, source,
           |  count(*)::BIGINT AS n_docs,
           |  sum(len(ts))::BIGINT AS n_tokens,
           |  sum(nc)::BIGINT AS n_chars,
           |  sum(CASE WHEN
           |    len(ts) BETWEEN 50 AND 100000
           |    AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |        AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |    AND CAST(len(list_filter(ts,
           |        t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |        / len(ts) >= 0.8
           |    AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |        OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |    AND len(list_filter(ts, t -> list_contains(
           |        ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |         'with'], t))) >= 2
           |    THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass
           |FROM staged GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin)),

    // ServeOp through the DAG runner — the reference serve.yml shape in
    // batch mode: a committed linear-model artifact (version 3,
    // yhat = 0.25·x + 2, both constants exactly double-representable)
    // published to a model topic, delivered to the factory via
    // config_topic resolution, scoring a documents feature column.
    // SQL-expressible, so the serve family gains its first oracled
    // CORRECTNESS row (batching is executor-local: batch_size only
    // groups predict() calls, never changes values)
    Case("q_serve_batch", (s, dir) => {
      import s.implicits._
      val work = scratchDir("graft_serve_dag", dir)
      writeOnce(s"$work/features") {
        t(s, dir, "documents").filter(col("doc_id") < 400)
          .select(col("doc_id"), col("n_chars").cast("double").as("x"))
          .write.mode("overwrite").parquet(s"$work/features")
      }
      writeOnce(s"$work/model") {
        Seq(("lin", 3L,
          graft.streaming.Serve.encodeLinearModel(3L, 2.0, 0.25)))
          .toDF("name", "version", "content")
          .withColumn("published_at",
            lit("2024-01-01 00:00:00").cast("timestamp"))
          .write.mode("overwrite").parquet(s"$work/model")
      }
      val yaml =
        s"""topics:
           |  - name: features
           |    kind: parquet
           |    path: $work/features
           |  - name: model
           |    kind: parquet
           |    path: $work/model
           |  - name: scored
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  serve:
           |    factory: graft.streaming.ops.ServeOp
           |    sources: [features]
           |    sinks: [scored]
           |    config_topic: model
           |config:
           |  serve_input_field: x
           |  serve_output_field: yhat
           |  serve_batch_size: 16
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/scored")
        .select(col("doc_id"), col("x"), col("yhat"))
        .orderBy("doc_id")
    },
      // the committed model artifact is yhat = 0.25*x + 2.0 (exactly
      // representable doubles — one multiply + one add on both engines)
      oracle("""SELECT doc_id, CAST(n_chars AS DOUBLE) AS x,
          |  0.25 * CAST(n_chars AS DOUBLE) + 2.0 AS yhat
          |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin)),

    // HeavyHittersOp through the DAG runner — the windowed Misra-Gries
    // top-j over the events stream. The fixture keeps the sketch in its
    // EXACT regime by construction (5 distinct event types per hour
    // window, far below m=64, so the MG map never decrements and every
    // partial-aggregate merge keeps all keys): est_count equals the
    // exact per-(window, item) count and the sketch's (-count, key)
    // finish order is a plain SQL row_number — the q_card_dag precedent
    // of oracling a sketch op's deterministic regime bit-exact (the
    // decrementing regime stays pinned by q_heavy_hitters_oracle's
    // sequential fold replay + FreqItemsSpec)
    Case("q_heavyhitters_dag", (s, dir) => {
      val work = scratchDir("graft_hh_dag", dir)
      writeOnce(s"$work/items") {
        // first-week cap: 168 hour-windows is full multi-window
        // coverage at a quarter of the rows (the q_countmin_dag
        // bench-weight budget for _dag twins)
        t(s, dir, "events")
          .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
          .select(xxhash64(col("event_type")).as("item"), col("ts"))
          .write.mode("overwrite").parquet(s"$work/items")
      }
      val yaml =
        s"""topics:
           |  - name: items
           |    kind: parquet
           |    path: $work/items
           |  - name: hh
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  hh:
           |    factory: graft.streaming.ops.HeavyHittersOp
           |    sources: [items]
           |    sinks: [hh]
           |    config:
           |      window: 1 hour
           |      item_col: item
           |      m: 64
           |      top_j: 3
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/hh")
        .select(col("window_start").cast("long").as("window_start"),
          col("rank").cast("long").as("rank"), col("item"),
          col("est_count"))
        .orderBy("window_start", "rank")
    },
      // HeavyHittersOp's exact regime (≤5 distinct items/window ≪ m):
      // the MG estimates are exact counts, the finish order a plain
      // deterministic rank — every shipped column oracles bit-exact
      oracle(OracleXxh.q_heavyhitters_dag(topJ = 3))),

    // skew-resistant salted join: orders ⋈ customer keyed on
    // (custkey, salt-of-orderkey) with the customer side replicated 8
    // ways — result EQUALS the plain join (the per-row salt meets
    // exactly one replica), while a hot custkey's rows spread across 8
    // tasks instead of one
    Case("q_salted_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Ops.saltedJoin(o, c, Seq("o_custkey"), col("o_orderkey"), salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy("c_mktsegment")
    },
      // the salted join must EQUAL the plain join — the oracle IS the
      // unsalted form
      oracle("""SELECT c_mktsegment, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |            AS DOUBLE) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // which source drifted: per-source exact TVD against the whole
    // corpus's token distribution — the triage row a corpus-wide drift
    // alert links to (left join + totals closure, no per-stratum grid)
    Case("q_drift_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.driftByStratum(docs, "source", "text", docs, "text")
        .orderBy("stratum")
    },
      // per-source TVD vs the whole corpus: left join + totals closure
      // (reference-only mass = n_a·(n_b − matched ref counts))
      oracle(s"""WITH sc AS (
           |  SELECT stratum, token, count(*) AS cnt_a FROM (
           |    SELECT source AS stratum, unnest($toksSql) AS token
           |    FROM documents) GROUP BY 1, 2),
           |rc AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents)
           |  GROUP BY 1),
           |tot AS (SELECT sum(cnt_b)::HUGEINT AS n_b FROM rc),
           |st AS (SELECT stratum, sum(cnt_a)::HUGEINT AS n_a FROM sc
           |       GROUP BY 1),
           |j AS (SELECT sc.stratum, sc.cnt_a::HUGEINT AS ca,
           |             coalesce(rc.cnt_b, 0)::HUGEINT AS cb
           |      FROM sc LEFT JOIN rc USING (token)),
           |agg AS (
           |  SELECT j.stratum,
           |         sum(abs(j.ca * tot.n_b - j.cb * st.n_a)) AS s1,
           |         sum(j.cb) AS m,
           |         any_value(st.n_a) AS n_a, any_value(tot.n_b) AS n_b
           |  FROM j JOIN st ON st.stratum = j.stratum CROSS JOIN tot
           |  GROUP BY j.stratum)
           |SELECT stratum, CAST(n_a AS BIGINT) AS n_a,
           |       CAST(n_b AS BIGINT) AS n_b,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE) AS tvd_num,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM agg ORDER BY stratum""".stripMargin)),

    // numeric distribution drift: exact TVD between the fixed-bin value
    // histograms of purchase vs view events (32 bins over [0, 500)) —
    // the PSI-style feature-drift monitor, log-free
    Case("q_hist_drift", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.llm.Drift.histDrift(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        col("value"), bins = 32, lo = 0.0, hi = 500.0)
    },
      // fixed-bin value-histogram TVD, purchase vs view: identical
      // binning arithmetic ((x−lo)/range·bins, floor, clamp) then the
      // q_token_drift numerator chain over buckets
      oracle("""WITH ca AS (
          |  SELECT bucket, count(*) AS cnt_a FROM (
          |    SELECT CAST(least(greatest(
          |      floor((value - 0.0) / 500.0 * 32.0), 0), 31) AS BIGINT)
          |      AS bucket FROM events WHERE event_type = 'purchase')
          |  GROUP BY 1),
          |cb AS (
          |  SELECT bucket, count(*) AS cnt_b FROM (
          |    SELECT CAST(least(greatest(
          |      floor((value - 0.0) / 500.0 * 32.0), 0), 31) AS BIGINT)
          |      AS bucket FROM events WHERE event_type = 'view')
          |  GROUP BY 1),
          |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
          |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
          |      FROM ca FULL OUTER JOIN cb USING (bucket)),
          |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
          |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
          |             FROM j, tot) AS DOUBLE) AS tvd_num,
          |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
          |             FROM j, tot) AS DOUBLE)
          |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |         AS tvd
          |FROM tot""".stripMargin)),

    // event correlation through the stream-stream join factory in batch
    // mode: each purchase paired with the same user's views within
    // ±30 minutes (the JoinOp streaming twin buffers watermark-bounded
    // state for exactly this pairing)
    Case("q_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.streaming.ops.JoinOp(Map("key_col" -> "user_id",
        "time_bound" -> "30 minutes"), Seq(l, r)).head
        .select(col("user_id"), col("event_id"), col("r_event_id"))
        .orderBy("user_id", "event_id", "r_event_id")
    },
      // interval join: purchases × same-user views within ±30 minutes —
      // exact integer-micros timestamp arithmetic in both engines
      oracle("""SELECT l.user_id, l.event_id, r.event_id AS r_event_id
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
          |JOIN (SELECT * FROM events WHERE event_type = 'view') r
          |  ON l.user_id = r.user_id
          | AND r.ts >= l.ts - INTERVAL 30 MINUTE
          | AND r.ts <= l.ts + INTERVAL 30 MINUTE
          |ORDER BY 1, 2, 3""".stripMargin))
  )
}
