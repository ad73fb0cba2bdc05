package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.functions.Text
import graft.operators.{DataOps, MathOps, Ops}

import SparkEntry.{t, toksSql}
import Case.oracle

/** The reference core: the rx/rxsci operator surface (roll, map,
  * filter, scan, take/skip, merge, split/session windows), plus the
  * mixing and sampling operators registered next to it. */
object Reference extends Family {

  val cases: Seq[Case] = Seq(

    // rs.data.roll + rs.math.mean — README flagship (README.rst:75-90)
    // event_id is a dense 0-based counter → arithmetic window ids, no
    // global sort / single-partition WindowExec (rollDense fast path)
    Case("q_roll_mean", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.rollDense(3, 3, col("event_id")) >>
        MathOps.mean(col("value")) >>
        (_.orderBy(DataOps.WindowCol)),
      oracle("""SELECT CAST(floor(event_id / 3) AS BIGINT) AS window_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean
          |FROM events GROUP BY 1 HAVING count(*) = 3 ORDER BY window_id""".stripMargin)),

    // keyed roll — the 100 TB shape: windows per user, parallel across keys
    Case("q_roll_keyed", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.roll(5, 5, Seq(col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy("user_id", DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy("user_id", DataOps.WindowCol)),
      oracle("""WITH numbered AS (
          |  SELECT user_id, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i
          |  FROM events)
          |SELECT user_id, CAST(floor(i / 5) AS BIGINT) AS window_id,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM numbered GROUP BY 1, 2 HAVING count(*) = 5
          |ORDER BY user_id, window_id""".stripMargin)),

    // SLIDING count windows (stride < window — the reference's
    // rs.data.roll generalization): each row lands in up to
    // ⌈window/stride⌉ windows, complete windows only; per-key, so the
    // explode + aggregate shuffle is keyed and scales linearly
    Case("q_roll_sliding", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.roll(4, 2, Seq(col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy("user_id", DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy("user_id", DataOps.WindowCol)),
      // sliding w=4 s=2: row i -> windows [ceil((i-3)/2), floor(i/2)]
      // ∩ [0,∞); a window with exactly 4 rows is precisely a complete
      // one (trailing partials have < w rows)
      oracle("""WITH numbered AS (
          |  SELECT user_id, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i
          |  FROM events),
          |expanded AS (
          |  SELECT user_id, value, unnest(generate_series(
          |      greatest(CAST(ceil((i - 3) / 2.0) AS BIGINT), 0),
          |      CAST(floor(i / 2.0) AS BIGINT))) AS window_id
          |  FROM numbered)
          |SELECT user_id, window_id, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM expanded GROUP BY 1, 2 HAVING count(*) = 4
          |ORDER BY user_id, window_id""".stripMargin)),

    // ops.map — sample `multiply` operator (processor.py:6-14)
    Case("q_map_multiply", (s, dir) =>
      t(s, dir, "events") >>
        Ops.map(
          "event_id" -> col("event_id"),
          "multiplied" -> (col("value") * lit(3)).cast("double")) >>
        (_.orderBy("event_id")),
      oracle("SELECT event_id, value * 3 AS multiplied FROM events ORDER BY event_id")),

    // ops.filter
    Case("q_filter", (s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("event_type") === "purchase" && col("value") > 100) >>
        Ops.map("event_id" -> col("event_id"),
                "user_id" -> col("user_id"),
                "value" -> col("value")) >>
        (_.orderBy("event_id")),
      oracle("""SELECT event_id, user_id, value FROM events
          |WHERE event_type = 'purchase' AND value > 100 ORDER BY event_id""".stripMargin)),

    // ops.flat_map — token explosion over documents
    Case("q_flatmap", (s, dir) =>
      t(s, dir, "documents") >>
        Ops.flatMap(Text.tokens(col("text")), "token") >>
        (df => df.groupBy("token").agg(count(lit(1)).as("n"))) >>
        (_.orderBy("token")),
      oracle(s"""SELECT t AS token, count(*) AS n
           |FROM (SELECT unnest($toksSql) AS t FROM documents)
           |GROUP BY 1 ORDER BY token""".stripMargin)),

    // ops.scan — running per-key fold (cumulative sum), decimal-exact
    Case("q_scan_cumsum", (s, dir) =>
      t(s, dir, "events") >>
        Ops.scan(sum(col("value").cast("decimal(18,2)")), "cum",
          Seq(col("ts"), col("event_id")), Seq(col("user_id"))) >>
        Ops.map("event_id" -> col("event_id"),
                "user_id" -> col("user_id"),
                "cum" -> col("cum").cast("double")) >>
        (_.orderBy("event_id")),
      oracle("""SELECT event_id, user_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2)))
          |         OVER (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         AS DOUBLE) AS cum
          |FROM events ORDER BY event_id""".stripMargin)),

    // rs.ops.distinct
    Case("q_distinct", (s, dir) =>
      t(s, dir, "lineitem") >>
        Ops.map("l_returnflag" -> col("l_returnflag"),
                "l_linestatus" -> col("l_linestatus")) >>
        Ops.distinct() >>
        (_.orderBy("l_returnflag", "l_linestatus")),
      oracle("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
          |ORDER BY 1, 2""".stripMargin)),

    // ops.merge + start_with — UNION ALL of substreams + literal head
    Case("q_merge", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("event_type"))
      val head = s.sql("SELECT CAST(-1 AS BIGINT) AS event_id, " +
        "'start' AS event_type")
      purchases >> Ops.merge(signups) >> Ops.startWith(head) >>
        (_.orderBy("event_id", "event_type"))
    },
      oracle("""SELECT CAST(-1 AS BIGINT) AS event_id, 'start' AS event_type
          |UNION ALL
          |SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
          |UNION ALL
          |SELECT event_id, event_type FROM events WHERE event_type = 'signup'
          |ORDER BY event_id, event_type""".stripMargin)),

    // ops.take — deterministic head (top-k by explicit order)
    Case("q_topk", (s, dir) =>
      t(s, dir, "orders") >>
        Ops.take(10, col("o_totalprice").desc, col("o_orderkey")) >>
        Ops.map("o_orderkey" -> col("o_orderkey"),
                "o_totalprice" -> col("o_totalprice")),
      oracle("""SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ops.skip — drop the first n per key under an explicit order (the
    // keyed form: per-key row_number shuffles once and scales linearly)
    Case("q_skip", (s, dir) =>
      t(s, dir, "orders") >>
        Ops.skip(2, Seq(col("o_orderkey")), Seq(col("o_custkey"))) >>
        Ops.map("o_custkey" -> col("o_custkey"),
                "o_orderkey" -> col("o_orderkey")) >>
        (_.orderBy("o_custkey", "o_orderkey")),
      oracle("""SELECT o_custkey, o_orderkey FROM (
          |  SELECT o_custkey, o_orderkey, row_number() OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn > 2 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // rs.ops.last — latest event per user (argmax pattern)
    Case("q_last_by", (s, dir) =>
      t(s, dir, "events") >>
        Ops.lastBy(Seq(col("user_id")), Seq(col("ts"), col("event_id"))) >>
        Ops.map("user_id" -> col("user_id"),
                "event_id" -> col("event_id"),
                "value" -> col("value")) >>
        (_.orderBy("user_id")),
      oracle("""SELECT user_id, event_id, value FROM (
          |  SELECT user_id, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |           ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // deterministic training-mix sampling: per-source rates over a
    // Lehmer id-hash bucket — reproducible across engines/retries (the
    // oracle computes the identical buckets in plain BIGINT arithmetic)
    Case("q_mix_sample", (s, dir) =>
      t(s, dir, "documents") >>
        Ops.mixSample(col("doc_id"), col("source"),
          Map("src0" -> 0.2, "src1" -> 0.5, "src2" -> 0.0,
            "src3" -> 0.85)) >>
        (df => df.groupBy("source").agg(count(lit(1)).as("n"))) >>
        (_.orderBy("source")),
      // floor() mirrors Spark's truncating cast of rate*buckets
      oracle("""WITH b AS (
          |  SELECT source,
          |         (((doc_id % 2147483647) * 48271) % 2147483647) % 10000
          |           AS bucket
          |  FROM documents)
          |SELECT source, count(*) AS n FROM b
          |WHERE bucket < CAST(floor(
          |  (CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.5
          |               WHEN 'src2' THEN 0.0 WHEN 'src3' THEN 0.85
          |               ELSE 1.0 END) * 10000) AS BIGINT)
          |GROUP BY source ORDER BY source""".stripMargin)),

    // deterministic global corpus shuffle + sharding (training export
    // order): hash order is a pure function of (seed, id) — the whole
    // permutation hash-matches the oracle, shard assignment and all
    Case("q_shuffle_shards", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id")) >>
        Ops.shuffleShards(col("doc_id"), nShards = 8, seed = 7) >>
        (_.orderBy("shard", "shuffle_pos")),
      oracle(OracleXxh.q_shuffle_shards(nShards = 8,
        seed = 7))),

    // deterministic contrastive negatives: 4 hash-uniform corpus draws
    // per anchor (doc_id < 50), minus the anchor and its synthetic
    // positive (doc_id + 1) — the DPR/word2vec negatives step, every
    // draw engine-replayable
    Case("q_negative_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val positives = docs.select(col("doc_id").as("anchor"),
        (col("doc_id") + 1).as("pos"))
      (docs.filter(col("doc_id") < 50) >>
        Ops.negativeSample(col("doc_id"),
          docs.select("doc_id"), positives, k = 4, seed = 11))
        .orderBy("anchor", "draw")
    },
      oracle(OracleXxh.q_negative_sample(
        k = 4, seed = 11, maxAnchor = 50L, coarse = 4096))),

    // token-budgeted exact corpus mixing: per-source size budgets cut in
    // deterministic hash order via the two-level bucket decomposition;
    // the oracle replays the equivalent single-window formulation
    Case("q_mix_budget", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")) >>
        Ops.sampleToBudget(col("doc_id"), col("source"), col("n_chars"),
          Map("src0" -> 3000L, "src1" -> 100000L, "src3" -> 5000L,
            "src7" -> 1L), seed = 3) >>
        (_.select("doc_id", "source").orderBy("doc_id")),
      oracle(OracleXxh.q_mix_budget(
        Map("src0" -> 3000L, "src1" -> 100000L, "src3" -> 5000L,
          "src7" -> 1L), seed = 3, buckets = 1024))),

    // rxx sorted_merge — two disordered sources merged into deterministic
    // event-time order (range repartition + local sort; global order is
    // pinned by OpsSpec, content by the oracle)
    Case("q_sorted_merge", (s, dir) => {
      val ev = t(s, dir, "events")
      val even = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      // ts_sec leads the schema so Verify's stable all-column sort
      // coincides with the operator's (ts, event_id) order
      even >>
        Ops.sortedMerge(Seq(odd), Seq(col("ts"), col("event_id"))) >>
        Ops.map("ts_sec" -> col("ts").cast("long"),
                "event_id" -> col("event_id"),
                "value" -> col("value"))
    },
      oracle("""SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id, value
          |FROM events
          |ORDER BY ts, event_id""".stripMargin)),

    // rs.ops.sample — deterministic decimation, every 10th event
    // (dense event_id → pure filter, no global row_number)
    Case("q_sample_every", (s, dir) =>
      t(s, dir, "events") >>
        Ops.sampleEveryDense(10, col("event_id")) >>
        Ops.map("event_id" -> col("event_id"), "value" -> col("value")) >>
        (_.orderBy("event_id")),
      oracle("""SELECT event_id, value FROM (
          |  SELECT event_id, value,
          |         row_number() OVER (ORDER BY event_id) AS rn
          |  FROM events)
          |WHERE (rn - 1) % 10 = 0 ORDER BY event_id""".stripMargin)),

    // rs.ops.with_latest_from (serve.py:141) — 1-row broadcast side input
    Case("q_with_latest", (s, dir) => {
      val latestOrder = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      t(s, dir, "events") >>
        Ops.filter(col("event_id") < 100) >>
        Ops.withLatestFrom(latestOrder,
          struct(col("o_orderdate"), col("o_orderkey"))) >>
        Ops.map("event_id" -> col("event_id"),
                "value" -> col("value"),
                "o_orderkey" -> col("o_orderkey")) >>
        (_.orderBy("event_id"))
    },
      oracle("""SELECT e.event_id, e.value, o.o_orderkey
          |FROM events e CROSS JOIN
          |  (SELECT o_orderkey FROM orders
          |   ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
          |WHERE e.event_id < 100 ORDER BY e.event_id""".stripMargin)),

    // rs.data.batch — serve's count batcher (serve.py:82-101), batch=50
    // (dense event_id → arithmetic batch ids)
    Case("q_batch", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.batchDense(50, col("event_id")) >>
        (df => df.groupBy(DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy(DataOps.WindowCol)),
      oracle("""SELECT CAST(floor(event_id / 50) AS BIGINT) AS window_id,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1 HAVING count(*) = 50 ORDER BY window_id""".stripMargin)),

    // rs.data.split — segment per user at 'signup' boundaries
    Case("q_split", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.split(col("event_type") === "signup",
          Seq(col("ts"), col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy(col("user_id"), col(DataOps.WindowCol))
          .agg(count(lit(1)).as("n"))) >>
        (_.orderBy("user_id", DataOps.WindowCol)),
      // window_id is CAST AS BIGINT: DuckDB's sum() over integers yields
      // HUGEINT (int128) — value-equal to Spark's BIGINT but a different
      // physical type, which broke the oracle gate's hash compare in round 1.
      oracle("""WITH seg AS (
          |  SELECT user_id,
          |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS window_id
          |  FROM events)
          |SELECT user_id, window_id, count(*) AS n FROM seg
          |GROUP BY 1, 2 ORDER BY user_id, window_id""".stripMargin)),

    // rs.data.time_split — 30-min-gap sessionization per user
    Case("q_session", (s, dir) =>
      t(s, dir, "events") >>
        DataOps.timeSplit(col("ts"), 1800, Seq(col("user_id")),
          tieBreak = Seq(col("event_id"))) >>
        (df => df.groupBy(col("user_id"), col(DataOps.WindowCol)).agg(
          count(lit(1)).as("n"),
          floor(min(col("ts")).cast("double")).cast("long")
            .as("session_start"))) >>
        (_.orderBy("user_id", DataOps.WindowCol)),
      oracle("""WITH flagged AS (
          |  SELECT user_id, ts, event_id,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |seg AS (
          |  SELECT user_id, ts,
          |         CAST(sum(is_new) OVER (
          |           PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS window_id
          |  FROM flagged)
          |SELECT user_id, window_id, count(*) AS n,
          |       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start
          |FROM seg GROUP BY 1, 2 ORDER BY user_id, window_id""".stripMargin)),

    // time windows: tumbling hour (event-time, streaming-shaped)
    Case("q_tumbling_hour", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))
        .select(col("window.start").cast("long").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_start", "event_type"),
      oracle("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
          |       event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    // time windows: sliding 1h window, 30min slide
    Case("q_sliding_hour", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("window_start"),
          col("n"))
        .orderBy("window_start"),
      oracle("""SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800
          |         AS window_start,
          |       count(*) AS n
          |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
          |GROUP BY 1 ORDER BY window_start""".stripMargin))
  )
}
