package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.llm.Dedup
import graft.operators.{MathOps, Ops}

import SparkEntry.{t, scratchDir, writeOnce, toksSql}
import Case.oracle

/** Source round trips (ORC, JSONL, CSV), plus the queries registered
  * after them: resampling, anomalies, HITS, drift, sampling, funnel
  * latency, keyed quantiles and rolling actives. */
object Sources extends Family {

  val cases: Seq[Case] = Seq(

    // documents → ORC (Spark-native columnar sibling) → read back →
    // rollup; proves the ORC source/sink against the parquet oracle
    Case("q_orc_roundtrip", (s, dir) => {
      val out = scratchDir("graft_orc", dir)
      graft.sources.Sources.writeOrc(t(s, dir, "documents"), out)
      graft.sources.Sources.orc(s, out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("source")
    },
      // the ORC leg is Spark-side plumbing; the oracle checks the rollup
      // over the same rows from parquet
      oracle("""SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // JSONL round-trip — the interchange format downstream training
    // stacks read (one JSON object per line): export the corpus via the
    // Sources JSONL sink, re-ingest with an explicit schema, aggregate.
    // The corpus text is plain space-separated words, so the escape
    // surface is INJECTED — every doc gets a quote/comma/backslash
    // suffix before export; the text-length sum then genuinely pins
    // writer escaping + reader unescaping (a corruption shifts the
    // sum), and the identity round-trip keeps the oracle plain SQL
    // over the original table (q_orc_roundtrip precedent)
    Case("q_jsonl_roundtrip", (s, dir) => {
      val out = scratchDir("graft_jsonl", dir)
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" \"q\", \\end")))
      graft.sources.Sources.writeJsonLines(docs, out)
      graft.sources.Sources.jsonLines(s, out, docs.schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("total_text_chars"))
        .orderBy("lang")
    },
      // round-trip is identity, so the oracles read the original table,
      // replaying the injected quote/comma/backslash suffix (DuckDB
      // single-quoted literals keep backslash literal, like Spark's lit)
      oracle("""SELECT lang, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars,
          |  sum(len(text || ' "q", \end'))::BIGINT AS total_text_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // JSONL topics through the DAG runner — the raw-crawl ingest and
    // training-export shape: a JSONL source topic (declared DDL schema,
    // the json-topic contract) flows through a YAML SqlOp gate into a
    // JSONL sink topic, and the read-back aggregates. Gates BOTH json
    // legs of the runner (source + durable-handoff sink) plus the
    // schema-carrying relay; quoting fidelity is pinned by the n_chars
    // sum surviving the two JSON hops
    Case("q_jsonl_dag", (s, dir) => {
      val work = scratchDir("graft_jsonl_dag", dir)
      writeOnce(s"$work/docs") {
        graft.sources.Sources.writeJsonLines(
          t(s, dir, "documents").filter(col("doc_id") < 5000)
            .select(col("doc_id"), col("text"), col("lang"),
              col("n_chars")),
          s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: json
           |    path: $work/docs
           |    schema: "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
           |  - name: export
           |    kind: json
           |    sink_partitions: 1
           |operators:
           |  gate:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [docs]
           |    sinks: [export]
           |    config:
           |      views: [d]
           |      sql: SELECT doc_id, lang, n_chars FROM d WHERE n_chars >= 100
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      graft.sources.Sources.jsonLines(s, s"$work/sinks/export",
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
    },
      // json topics through the DAG runner are identity hops, so the
      // oracle replays the gate over the original table
      oracle("""SELECT lang, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars
          |FROM documents WHERE doc_id < 5000 AND n_chars >= 100
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // CSV round-trip — the remaining interchange leg (parquet and ORC
    // columnar, JSONL and CSV text): header + quoting exercised with
    // the same INJECTED quote/comma/backslash suffix as
    // q_jsonl_roundtrip (the raw corpus is plain words), so the writer
    // must quote-frame and double the quotes and the reader must undo
    // both. Newline-free by fixture contract — Sources.csv reads
    // line-framed records; multiLine CSV is out of the sink's scope by
    // design, JSONL is the escape-safe export for free-text
    Case("q_csv_roundtrip", (s, dir) => {
      val out = scratchDir("graft_csv", dir)
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" \"q\", \\end")))
      graft.sources.Sources.writeCsv(docs, out)
      graft.sources.Sources.csv(s, out, docs.schema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("total_text_chars"))
        .orderBy("source")
    },
      oracle("""SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars,
          |  sum(len(text || ' "q", \end'))::BIGINT AS total_text_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // time-series regularization: per-user hourly grid with GAP rows
    // materialized, decimal-exact sums, forward-filled last observation
    Case("q_resample", (s, dir) =>
      graft.operators.Resample.grid(t(s, dir, "events"), "ts", "value",
        Seq("user_id"), "1 hour", 3600L)
        .orderBy("user_id", "bucket"),
      // resample replay: hour buckets, per-key complete grid via
      // generate_series, decimal-exact sums, IGNORE NULLS running
      // last_value for the forward fill
      oracle("""WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
          |    count(*)::BIGINT AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |      AS sum_value
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
          |      FROM b GROUP BY 1),
          |g AS (SELECT s.user_id, t.bucket FROM s,
          |      unnest(generate_series(s.b0, s.b1, INTERVAL 1 HOUR))
          |        AS t(bucket)),
          |j AS (SELECT g.user_id, g.bucket, coalesce(b.n, 0) AS n,
          |        b.sum_value
          |      FROM g LEFT JOIN b
          |        ON b.user_id = g.user_id AND b.bucket = g.bucket)
          |SELECT user_id, bucket, n, sum_value,
          |  last_value(sum_value IGNORE NULLS) OVER (
          |    PARTITION BY user_id ORDER BY bucket
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS filled_value
          |FROM j ORDER BY user_id, bucket""".stripMargin),
      materializeCtes = true),

    // z-score anomaly flagging: events whose value sits > 3 sample
    // stddevs from their event_type's mean — per-key exact moments
    // (MathOps.describe) broadcast back over the stream, three IEEE
    // ops per row (sub, div, abs), all SQL-replayable
    Case("q_anomaly", (s, dir) => {
      val ev = t(s, dir, "events")
      val stats = (ev >> MathOps.describe(col("value"),
        Seq(col("event_type"))))
        .select(col("event_type"), col("mean"), col("stddev_samp"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("stddev_samp") > 0.0)
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("mean")) / col("stddev_samp")).as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy("event_id")
    },
      // anomaly replay: the q_stats exact-moment chain per event_type,
      // one (sub, div) per row, abs > 3 cut
      oracle("""WITH st AS (SELECT event_type,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |      / count(value) AS mean,
          |    sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |             * CAST(value AS DECIMAL(18,2))
          |             AS DECIMAL(38,4))) AS DOUBLE)
          |      - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |        * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |        / CAST(count(value) AS DOUBLE))
          |      / (CAST(count(value) AS DOUBLE) - 1.0)) AS sd
          |  FROM events GROUP BY event_type)
          |SELECT e.event_id, e.event_type, e.value,
          |       (e.value - st.mean) / st.sd AS z
          |FROM events e JOIN st USING (event_type)
          |WHERE st.sd > 0
          |  AND abs((e.value - st.mean) / st.sd) > 3.0
          |ORDER BY e.event_id""".stripMargin)),

    // ROBUST anomaly flagging (median/MAD): outliers against the
    // median absolute deviation instead of mean/stddev — immune to the
    // outliers themselves polluting the reference moments (the classic
    // z-score failure q_anomaly inherits by design). Exact type-1
    // quantiles per key ⇒ bit-replayable; two keyed windows + two
    // broadcast joins, one IEEE division per row
    Case("q_anomaly_robust", (s, dir) => {
      val ev = t(s, dir, "events")
      val med = (ev >> MathOps.quantileByKey(col("value"), 0.5,
        Seq(col("event_type"))))
        .select(col("event_type"), col("q").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med")))
      val mad = (dev >> MathOps.quantileByKey(col("absdev"), 0.5,
        Seq(col("event_type"))))
        .select(col("event_type"), col("q").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0.0)
        .withColumn("score", col("absdev") / col("mad"))
        .filter(col("score") > 3.5)
        .select("event_id", "event_type", "value", "med", "mad", "score")
        .orderBy("event_id")
    },
      // robust anomaly replay: two type-1 quantile chains (the
      // q_quantile_by_key rank arithmetic) + the division
      oracle("""WITH med AS (SELECT event_type, q AS med FROM (
          |  SELECT event_type, value AS q,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY value) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events) t
          |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
          |dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
          |    abs(e.value - m.med) AS absdev
          |  FROM events e JOIN med m USING (event_type)),
          |mad AS (SELECT event_type, q AS mad FROM (
          |  SELECT event_type, absdev AS q,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY absdev) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM dev) t
          |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
          |SELECT d.event_id, d.event_type, d.value, d.med, a.mad,
          |  d.absdev / a.mad AS score
          |FROM dev d JOIN mad a USING (event_type)
          |WHERE a.mad > 0.0 AND d.absdev / a.mad > 3.5
          |ORDER BY event_id""".stripMargin)),

    // HITS hubs & authorities over the event-type transition graph:
    // exact integer iterations with max rescaling — hubs = states
    // journeys leave from, authorities = states they converge to
    Case("q_hits", (s, dir) => {
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.hits(edges, "src", "dst", iters = 2)
        .orderBy("node")
    },
      // HITS replay: per iteration an authority pass (sum of in-hub
      // mass, max-rescaled by floor div) then a hub pass over the NEW
      // authorities — Kleinberg's sequential order, all exact integers
      oracle {
        val iterCtes = (1 to 2).map { i =>
          val ph = if (i == 1) "h0" else s"h${i - 1}"
          s"""ar$i AS (SELECT e.dst AS node, sum(h.rank * e.w) AS r
             |  FROM e0 e JOIN $ph h ON h.node = e.src GROUP BY e.dst),
             |af$i AS (SELECT n.node, coalesce(ar$i.r, 0) AS r
             |  FROM nodes n LEFT JOIN ar$i ON ar$i.node = n.node),
             |am$i AS (SELECT max(r) AS mx FROM af$i),
             |a$i AS (SELECT node, CAST(CASE WHEN mx > 0
             |    THEN (r * 1000000000) // mx ELSE 0 END AS BIGINT) AS rank
             |  FROM af$i CROSS JOIN am$i),
             |hr$i AS (SELECT e.src AS node, sum(a.rank * e.w) AS r
             |  FROM e0 e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
             |hf$i AS (SELECT n.node, coalesce(hr$i.r, 0) AS r
             |  FROM nodes n LEFT JOIN hr$i ON hr$i.node = n.node),
             |hm$i AS (SELECT max(r) AS mx FROM hf$i),
             |h$i AS (SELECT node, CAST(CASE WHEN mx > 0
             |    THEN (r * 1000000000) // mx ELSE 0 END AS BIGINT) AS rank
             |  FROM hf$i CROSS JOIN hm$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |h0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT n.node, h2.rank AS hub, a2.rank AS authority
           |FROM nodes n
           |JOIN h2 ON h2.node = n.node
           |JOIN a2 ON a2.node = n.node
           |ORDER BY n.node""".stripMargin
      },
      materializeCtes = true),

    // PageRank over the document near-dup graph: exact ngram-Jaccard
    // pairs (>= 0.3) as symmetric edges, 2 integer iterations — which
    // docs sit at the center of duplication clusters (the curation
    // face of graph centrality: high rank = template/boilerplate hub)
    Case("q_pagerank_docs", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleSize = 3, threshold = 0.3)
      // NO persist on `pairs`: pageRank's own e0 persist already makes
      // the pair subtree single-traversal (explode is its one
      // consumer); adding one was a measured net loss (quiet-box
      // min-of-2 at sf0.1: 2.28s -> 2.82s, round 12) — the extra
      // materialization buys no avoided re-run
      // symmetrize via explode, not union: a union traverses the pair
      // subtree twice, and pair GENERATION is the expensive stage here
      // (measured 2× ngram-Jaccard per run → once; 3.4s → 2.3s at sf0.1)
      val edges = pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 2)
        .orderBy("node")
    },
      // doc-graph PageRank replay: the q_ngram_jaccard pair chain at
      // threshold 0.3, symmetric directed edges, 2 unrolled integer
      // iterations (the q_pagerank arithmetic on doc-id nodes)
      oracle {
        val iterCtes = (1 to 2).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST(150000000 + coalesce((c$i.s * 85) // 100, 0) AS BIGINT)
             |    AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
           |      WHERE len(sh) > 0),
           |pr AS (SELECT id_a, id_b FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(count(*) AS DOUBLE)
           |           / (any_value(a.n) + any_value(b.n) - count(*))
           |           AS jaccard
           |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |  WHERE jaccard >= 0.3),
           |e0 AS (SELECT id_a AS src, id_b AS dst, 1::BIGINT AS w FROM pr
           |       UNION ALL
           |       SELECT id_b AS src, id_a AS dst, 1::BIGINT AS w FROM pr),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r2 ORDER BY node""".stripMargin
      },
      materializeCtes = true),

    // exact corpus drift: total-variation distance between the token
    // distributions of two snapshot halves (even vs odd doc ids — the
    // same-distribution control; the lang slices below are the drifted
    // case). Every intermediate is an exact integer; one cast + one
    // IEEE division at the end
    Case("q_token_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.tokenDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
    },
      // exact TVD between the even/odd snapshot halves: cross-multiplied
      // integer numerators in HUGEINT, one cast + one division — the
      // identical op sequence to Drift.tokenDrift
      oracle(s"""WITH ca AS (
           |  SELECT token, count(*) AS cnt_a FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 2 = 0) GROUP BY 1),
           |cb AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 2 = 1) GROUP BY 1),
           |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
           |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
           |      FROM ca FULL OUTER JOIN cb USING (token)),
           |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
           |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE) AS tvd_num,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM tot""".stripMargin)),

    // the drift triage view: top-20 tokens by exact cross-multiplied
    // share movement between the en and de slices, with which side
    // over-represents
    Case("q_drift_top", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.driftTop(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text", k = 20)
        .orderBy(col("drift_num").desc, col("token"))
    },
      // top-20 drift contributors between the en and de slices, ranked
      // by the exact integer numerator (ties token asc)
      oracle(s"""WITH ca AS (
           |  SELECT token, count(*) AS cnt_a FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE lang = 'en') GROUP BY 1),
           |cb AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE lang = 'de') GROUP BY 1),
           |j AS (SELECT token,
           |             coalesce(cnt_a, 0)::BIGINT AS cnt_a,
           |             coalesce(cnt_b, 0)::BIGINT AS cnt_b,
           |             coalesce(cnt_a, 0)::HUGEINT AS ha,
           |             coalesce(cnt_b, 0)::HUGEINT AS hb
           |      FROM ca FULL OUTER JOIN cb USING (token)),
           |tot AS (SELECT sum(ha) AS n_a, sum(hb) AS n_b FROM j)
           |SELECT token, cnt_a, cnt_b,
           |       CAST(abs(ha * n_b - hb * n_a) AS DOUBLE) AS drift_num,
           |       CASE WHEN ha * n_b > hb * n_a THEN 'a'
           |            WHEN ha * n_b < hb * n_a THEN 'b'
           |            ELSE '=' END AS heavier
           |FROM j, tot
           |ORDER BY abs(ha * n_b - hb * n_a) DESC, token LIMIT 20""".stripMargin)),

    // deterministic weight-proportional sampling without replacement
    // (priority sampling): 50 docs drawn proportional to n_chars via
    // hash-derived uniforms — reproducible under reruns, replayable in
    // any engine through the XXH64 oracle macros
    Case("q_weighted_sample", (s, dir) =>
      (t(s, dir, "documents") >> Ops.prioritySample(col("doc_id"),
        col("n_chars"), k = 50, seed = 7))
        .select(col("doc_id"), col("n_chars"), col("priority"),
          col("sample_rank"))
        .orderBy("sample_rank"),
      oracle(OracleXxh.q_weighted_sample(k = 50, seed = 7))),

    // time-to-convert: per funnel depth, user count + exact p50
    // conversion latency (micros between the step-1 match and the
    // furthest step's match) — funnelLatency ∘ quantileByKey, the
    // composed behavioral-latency dashboard row
    Case("q_funnel_latency", (s, dir) => {
      val lat = graft.operators.Funnel.funnelLatency(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        withinSeconds = Some(86400L)) // 1-day conversion window
      lat >> MathOps.quantileByKey(col("latency_us"), 0.5,
        Seq(col("depth")))
    },
      // funnel latency: the q_funnel chain carrying its matched
      // timestamps, exact micros gaps, the type-1 quantile rank per depth
      oracle("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t2,
          |              any_value(s1.t1) AS w1 FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |         AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS
          |       GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          |       JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |         AND e.ts <= s2.w1 + INTERVAL 86400 SECONDS
          |       GROUP BY e.user_id),
          |f AS (SELECT s1.user_id,
          |        CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
          |                  WHEN s2.user_id IS NOT NULL THEN 2
          |                  ELSE 1 END AS INT) AS depth,
          |        epoch_us(CASE WHEN s3.user_id IS NOT NULL THEN s3.t3
          |                      WHEN s2.user_id IS NOT NULL THEN s2.t2
          |                      ELSE s1.t1 END)
          |          - epoch_us(s1.t1) AS lat
          |      FROM s1
          |      LEFT JOIN s2 ON s1.user_id = s2.user_id
          |      LEFT JOIN s3 ON s1.user_id = s3.user_id),
          |r AS (SELECT depth, lat,
          |        row_number() OVER (PARTITION BY depth ORDER BY lat)
          |          AS rn,
          |        count(*) OVER (PARTITION BY depth) AS n FROM f)
          |SELECT depth, n, lat AS q FROM r
          |WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
          |ORDER BY depth""".stripMargin)),

    // exact per-key quantile (type-1): the p95 value per event_type —
    // no interpolation, so the answer exists in the data and the one
    // IEEE multiply + ceil replays in any engine
    Case("q_quantile_by_key", (s, dir) =>
      (t(s, dir, "events") >> MathOps.quantileByKey(col("value"), 0.95,
        Seq(col("event_type"))))
        .orderBy("event_type"),
      // type-1 quantile: identical rank arithmetic (ceil of one IEEE
      // multiply), value picked by ascending row_number
      // two-level bucket rank (mirrors the engine's own tercile
      // trick): per-(key, floor(value)) counts + a running sum locate
      // the bucket holding rank r; only THAT bucket's rows get a
      // row_number. Replaces the corpus-wide per-key window the r11
      // oracle OOM'd on — floor(value) is monotone in value, so
      // local rank + rows-below = the global rank bit-for-bit
      oracle("""WITH n AS (SELECT event_type, count(*)::BIGINT AS n
          |  FROM events GROUP BY 1),
          |tgt AS (SELECT event_type, n,
          |  greatest(1, CAST(ceil(0.95 * n) AS BIGINT)) AS r FROM n),
          |b AS (SELECT event_type, floor(value) AS bkt,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |cum AS (SELECT event_type, bkt, c,
          |  sum(c) OVER (PARTITION BY event_type ORDER BY bkt
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS upto
          |  FROM b),
          |pick AS (SELECT c.event_type, c.bkt, c.upto - c.c AS below,
          |  t.n, t.r
          |  FROM cum c JOIN tgt t USING (event_type)
          |  WHERE t.r > c.upto - c.c AND t.r <= c.upto),
          |loc AS (SELECT e.event_type, e.value, p.n, p.r, p.below,
          |  row_number() OVER (PARTITION BY e.event_type
          |    ORDER BY e.value) AS rl
          |  FROM events e JOIN pick p
          |    ON e.event_type = p.event_type
          |   AND floor(e.value) = p.bkt)
          |SELECT event_type, n, value AS q FROM loc
          |WHERE rl + below = r
          |ORDER BY event_type""".stripMargin),
      materializeCtes = true),

    // rolling 7-day distinct actives per day via HLL register UNION:
    // daily register tables computed once, each day's window is a
    // register-max merge of ≤7 of them — the dashboard metric the
    // mergeable-sketch algebra exists for
    Case("q_rolling_actives", (s, dir) =>
      graft.operators.Retention.rollingActives(t(s, dir, "events"),
        "user_id", "ts", windowDays = 7, p = 6),
      oracle(OracleXxh.q_rolling_actives(windowDays = 7)))
  )
}
