package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.functions.Hll
import graft.operators.{MathOps, Ops}

import SparkEntry.t
import Case.oracle

/** The rs.math family: moments, quantiles, histograms, EWMA,
  * correlation, detrending and the HLL / Distogram sketches. */
object RsMath extends Family {

  val cases: Seq[Case] = Seq(

    Case("q_stats", (s, dir) =>
      t(s, dir, "events") >>
        MathOps.describe(col("value"), Seq(col("event_type"))) >>
        (_.orderBy("event_type")),
      oracle("""SELECT event_type, count(value) AS n,
          |       min(value) AS min, max(value) AS max,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS mean,
          |       (CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
          |              AS DECIMAL(38,4))) AS DOUBLE)
          |        - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          / CAST(count(value) AS DOUBLE))
          |       / (CAST(count(value) AS DOUBLE) - 1.0) AS var_samp,
          |       sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
          |              AS DECIMAL(38,4))) AS DOUBLE)
          |        - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          / CAST(count(value) AS DOUBLE))
          |       / (CAST(count(value) AS DOUBLE) - 1.0)) AS stddev_samp
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Case("q_median", (s, dir) =>
      t(s, dir, "events") >>
        MathOps.median(col("value"), Seq(col("event_type"))) >>
        (_.orderBy("event_type")),
      oracle("""SELECT event_type, quantile_cont(value, 0.5) AS median
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Case("q_histogram", (s, dir) =>
      t(s, dir, "events") >>
        MathOps.histogram(col("value"), 0.0, 500.0, 20,
          Seq(col("event_type"))) >>
        (_.orderBy("event_type", "bucket")),
      oracle("""SELECT event_type,
          |       CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19) AS BIGINT)
          |         AS bucket,
          |       count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin)),

    Case("q_ewma", (s, dir) =>
      t(s, dir, "events") >>
        MathOps.ewmaByKey(col("value"), col("ts"), 0.3,
          Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"), "ewma" -> col("ewma")) >>
        (_.orderBy("user_id")),
      oracle("""SELECT user_id,
          |       list_reduce(list(value ORDER BY ts, value),
          |         (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // per-event EWMA (the reference's scan semantics: every step emitted);
    // oracle = DuckDB prefix-list folds, bit-identical sequential doubles
    Case("q_ewma_scan", (s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        MathOps.ewmaScan(col("value"), Seq(col("ts"), col("event_id")),
          0.3, Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"),
                "event_id" -> col("event_id"),
                "ewma" -> col("ewma")) >>
        (_.orderBy("user_id", "event_id")),
      oracle("""SELECT user_id, event_id,
          |       list_reduce(
          |         list(value) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
          |FROM events WHERE user_id < 30
          |ORDER BY user_id, event_id""".stripMargin)),

    // exact Pearson correlation from decimal moments — order-independent
    // accumulation, one fixed double-op sequence (engine-portable)
    Case("q_corr", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(MathOps.exactCorr(col("value"), col("user_id"),
          xScale = 2, yScale = 0).as("corr_vu"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      // exact correlation: decimal moments on both sides, then the SAME
      // double formula text — bit-identical (exactVarSamp's rule)
      oracle("""WITH m AS (
          |  SELECT event_type,
          |         CAST(count(value) AS DOUBLE) AS nn,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          |         CAST(sum(CAST(user_id AS DECIMAL(18,0))) AS DOUBLE) AS sy,
          |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |           * CAST(user_id AS DECIMAL(18,0)) AS DECIMAL(38,2)))
          |           AS DOUBLE) AS sxy,
          |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |           * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
          |           AS DOUBLE) AS sxx,
          |         CAST(sum(CAST(CAST(user_id AS DECIMAL(18,0))
          |           * CAST(user_id AS DECIMAL(18,0)) AS DECIMAL(38,0)))
          |           AS DOUBLE) AS syy,
          |         count(*) AS cnt
          |  FROM events GROUP BY event_type)
          |SELECT event_type,
          |       (nn * sxy - sx * sy)
          |         / sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
          |         AS corr_vu,
          |       cnt AS n
          |FROM m ORDER BY event_type""".stripMargin)),

    // trailing 30-min per-user rolling features (RANGE frame on epoch
    // seconds, keyed WindowExec — parallel across users)
    Case("q_rolling_time", (s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        (df => df.withColumn("ts_sec", col("ts").cast("long"))) >>
        MathOps.trailingTimeAgg(col("value"), col("ts_sec"), 1800,
          Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"),
          "event_id" -> col("event_id"),
          "trailing_sum" -> col("trailing_sum"),
          "trailing_n" -> col("trailing_n")) >>
        (_.orderBy("user_id", "event_id")),
      oracle("""SELECT user_id, event_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |         AS trailing_sum,
          |       count(value) OVER w AS trailing_n
          |FROM events WHERE user_id < 30
          |WINDOW w AS (PARTITION BY user_id
          |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)),

    // time-series detrending: trailing-hour mean as the trend line,
    // residual = value − trend — the de-seasonalized signal anomaly
    // detectors should score instead of the raw series; one keyed
    // RANGE window + two IEEE ops per row
    Case("q_detrend", (s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        (df => df.withColumn("ts_sec", col("ts").cast("long"))) >>
        MathOps.trailingTimeAgg(col("value"), col("ts_sec"), 3600,
          Seq(col("user_id"))) >>
        (df => df.select(col("user_id"), col("event_id"), col("value"),
          (col("trailing_sum") / col("trailing_n").cast("double"))
            .as("trend"),
          (col("value") -
            col("trailing_sum") / col("trailing_n").cast("double"))
            .as("residual"))) >>
        (_.orderBy("user_id", "event_id")),
      oracle("""SELECT user_id, event_id, value,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |    / CAST(count(value) OVER w AS DOUBLE) AS trend,
          |  value -
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |    / CAST(count(value) OVER w AS DOUBLE) AS residual
          |FROM events WHERE user_id < 30
          |WINDOW w AS (PARTITION BY user_id
          |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)),

    // salted two-phase aggregation — identical result to direct groupBy,
    // skew-resistant shuffle shape (oracle proves the equivalence)
    Case("q_salted_agg", (s, dir) =>
      t(s, dir, "events") >>
        MathOps.saltedSumCount(col("value"), Seq(col("event_type")), 16) >>
        (_.orderBy("event_type")),
      oracle("""SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HLL approximate distinct — mergeable sketch; rows-only (sketch
    // internals differ across engines), accuracy pinned by ScalaTest
    Case("q_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem") >>
        MathOps.approxDistinct(col("l_partkey"),
          Seq(col("l_returnflag"))) >>
        (_.orderBy("l_returnflag")),
      None),

    // the ORACLE-replayable ApproxDistinctOp sibling: the windowed
    // "unique users per hour" factory run on its batch path (register
    // table grouped by the tumbling hour), audited via Hll.estimateAudit
    // — the RAW harmonic estimate (pure IEEE divide, bit-identical on
    // both engines) + the small-range branch selector + the exact
    // integers that DETERMINE the ln correction (est = m·ln(m/V) is a
    // pure function of nonempty_buckets). The corrected estimate itself
    // is deliberately NOT oracled: per-hour distincts at the gate SFs
    // (measured 4..166) sit below 2.5·m=1280 at p=9, and Math.log vs
    // libm ln diverge in the last ulp (~7% of inputs — Hll.scala
    // contract); the ln branch stays ScalaTest-pinned in HllSpec.
    Case("q_approx_distinct_oracle", (s, dir) => {
      val regs = graft.streaming.ops.ApproxDistinctOp(
        Map("window" -> "1 hour", "timestamp_col" -> "ts",
            "item_col" -> "user_id", "precision" -> 9),
        Seq(t(s, dir, "events"))).head
      Hll.estimateAudit(regs, 9, Seq(col("window_start")))
        .select(col("window_start").cast("long").as("hour_start"),
          col("raw_est_millis"), col("small_range"),
          col("nonempty_buckets"), col("register_sum"))
        .orderBy("hour_start")
    },
      oracle(OracleXxh.q_approx_distinct_oracle(9))),

    // relational HyperLogLog — same sketch family as q_approx_distinct
    // but expressed as groupBy(bucket).max(rho) + fixed-point harmonic
    // mean, so DuckDB replays it bit-exactly via OracleXxh (the
    // oracle-checkable companion to Spark's sealed HLL++)
    Case("q_hll_distinct", (s, dir) =>
      Hll.distinctCount(t(s, dir, "lineitem"), col("l_partkey"), 9),
      // xxhash64-family oracles (round 4): Spark's XXH64 replicated as
      // DuckDB macros — see OracleXxh for the prologue and design notes
      oracle(OracleXxh.q_hll_distinct)),

    // HLL set algebra — inclusion-exclusion over three register tables
    // (|A∩B| ≈ est(A) + est(B) - est(A∪B), composed in the exact
    // floor-millis domain so the oracle arithmetic is integer); the
    // exact intersection rides along as the accuracy anchor
    Case("q_hll_intersect", (s, dir) => {
      val o = t(s, dir, "orders")
      def keys(p: String) = o.filter(col("o_orderpriority") === p)
        .select(col("o_custkey").as("k"))
      val a = keys("1-URGENT")
      val b = keys("2-HIGH")
      def est(df: DataFrame, as: String) =
        Hll.distinctCount(df, col("k"), 6)
          .select(col("est_millis").as(as))
      val exact = a.distinct().join(b.distinct(), "k")
        .agg(count(lit(1)).as("exact_intersection"))
      est(a, "__a").crossJoin(est(b, "__b"))
        .crossJoin(est(a.unionByName(b), "__u")).crossJoin(exact)
        .select((col("__a") + col("__b") - col("__u"))
          .as("inter_est_millis"),
          col("exact_intersection"))
    },
      oracle(OracleXxh.q_hll_intersect)),

    // distogram streaming-histogram sketch (rs.math.dist analogue):
    // fixed-size mergeable state; rows-only (sketch is approximate),
    // count-preservation + quantile accuracy pinned by DistogramSpec
    Case("q_distogram", (s, dir) => {
      val sk = udaf(graft.operators.Distogram.sketch(32),
        org.apache.spark.sql.Encoders.scalaDouble)
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(sk(col("value")).as("s"))
        .select(col("event_type"),
          size(col("s.bins")).as("n_bins"),
          expr("aggregate(transform(s.bins, b -> b._2), 0L, (a, x) -> a + x)")
            .as("total"))
        .orderBy("event_type")
    },
      None),

    // the ORACLE-replayable distogram sibling (FreqItems.orderedFold
    // pattern): first 300 values per event_type in (event_id, value)
    // order folded sequentially through the BHTT insert+closest-merge
    // step — every centroid a fixed IEEE chain, hash-matched by a
    // DuckDB list_reduce replay; the distributed merge-order sketch
    // (q_distogram) stays the production path
    Case("q_distogram_oracle", (s, dir) => {
      val ordered = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_id") < 5000)
        .select(col("event_type"),
          struct(col("event_id"), col("value")).as("e"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("event_type"),
          slice(transform(col("es"), e => e.getField("value")), 1, 300)
            .as("vals"))
      ordered.select(col("event_type"),
          posexplode(graft.operators.Distogram.orderedFold(
            col("vals"), 16)))
        .select(col("event_type"),
          (col("pos") + 1).cast("long").as("bin"),
          col("col.v").as("v"), col("col.c").as("c"))
        .orderBy("event_type", "bin")
    },
      // bounded ordered BHTT fold — every centroid a fixed IEEE chain
      // (one multiply per side, one add, one divide per merge), the
      // closest-pair choice pinned to FIRST minimal gap on both
      // engines (list_position/array_position)
      oracle("""WITH o AS MATERIALIZED (
          |  SELECT event_type,
          |         (list(value ORDER BY event_id, value))[1:300] AS vals
          |  FROM events WHERE value IS NOT NULL AND event_id < 5000
          |  GROUP BY 1),
          |f AS MATERIALIZED (SELECT event_type,
          |  list_reduce(
          |    list_prepend([]::STRUCT(v DOUBLE, c BIGINT)[],
          |      list_transform(vals,
          |        x -> [{'v': x, 'c': NULL}]::STRUCT(v DOUBLE, c BIGINT)[])),
          |    (acc, e) -> CASE
          |      WHEN len(list_filter(acc, b -> b.v = e[1].v)) > 0
          |        THEN list_transform(acc, b -> CASE WHEN b.v = e[1].v
          |          THEN {'v': b.v, 'c': b.c + 1} ELSE b END)
          |      ELSE list_transform([
          |          list_filter(acc, b -> b.v < e[1].v)
          |          || [{'v': e[1].v, 'c': 1::BIGINT}]
          |          || list_filter(acc, b -> b.v > e[1].v)], s2 ->
          |        CASE WHEN len(s2) <= 16 THEN s2 ELSE
          |          list_transform([list_position(
          |              list_transform(range(1, len(s2)),
          |                i -> s2[i+1].v - s2[i].v),
          |              list_min(list_transform(range(1, len(s2)),
          |                i -> s2[i+1].v - s2[i].v)))], best ->
          |            s2[1:best-1]
          |            || [{'v': (s2[best].v * s2[best].c
          |                       + s2[best+1].v * s2[best+1].c)
          |                      / (s2[best].c + s2[best+1].c),
          |                 'c': s2[best].c + s2[best+1].c}]
          |            || s2[best+2:len(s2)])[1]
          |        END)[1]
          |    END) AS st
          |  FROM o)
          |SELECT event_type, t.bin::BIGINT AS bin,
          |       st[t.bin].v AS v, st[t.bin].c AS c
          |FROM f, unnest(generate_series(1, len(st))) AS t(bin)
          |ORDER BY event_type, bin""".stripMargin))
  )
}
