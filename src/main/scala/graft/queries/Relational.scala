package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Text
import graft.operators.{AsOfJoin, MathOps, RangeJoin}

import SparkEntry.t
import Case.oracle

/** The relational vocabulary (SURVEY.md §2.5): aggregates, joins,
  * TPC-H shapes, set operations, windows, grouping sets and pivots. */
object Relational extends Family {

  val cases: Seq[Case] = Seq(

    Case("q_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          MathOps.exactSum(col("l_quantity")).as("sum_qty"),
          MathOps.exactSum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      oracle("""SELECT l_returnflag, l_linestatus,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |       count(*) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // 3-way join: lineitem ⋈ orders ⋈ customer, revenue per segment.
    // Dims are broadcast — no shuffle of the fact table beyond the final agg.
    Case("q_join_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      // NO broadcast hints (r14 plan read): at sf0.1 both orders
      // (2.6 MB) and customer (0.3 MB) sit under the 10 MB
      // auto-broadcast threshold, so the planner broadcasts them
      // anyway — same plan, same speed. At 100x orders is 134 MB and
      // the old forced hint made the 100x row build a 15M-row
      // broadcast hash table (the dominant cost in its 18.6x ratio);
      // size-based planning + AQE switch it to a shuffle join, which
      // is the plan a 100 TB cluster needs
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    },
      oracle("""SELECT c_mktsegment,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
          |            AS DOUBLE) AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q1 (pricing summary): the benchmark classic — 8 aggregates
    // in one map-side-combined pass, every sum decimal-exact (the
    // triple product stays inside decimal(38,9), no precision
    // reduction), means as exact-sum / count with ONE IEEE division
    Case("q_tpch_q1", (s, dir) => {
      val d3 = (c: String) => col(c).cast("decimal(12,3)")
      val one = lit(1).cast("decimal(12,3)")
      val disc = d3("l_extendedprice") * (one - d3("l_discount"))
      val charge = disc * (one + d3("l_tax"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          MathOps.exactSum(col("l_quantity")).as("sum_qty"),
          MathOps.exactSum(col("l_extendedprice")).as("sum_base_price"),
          sum(disc).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          MathOps.exactMean(col("l_quantity")).as("avg_qty"),
          MathOps.exactMean(col("l_extendedprice")).as("avg_price"),
          MathOps.exactMean(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      oracle {
        def d2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
        val sumQty = "sum(CAST(l_quantity AS DECIMAL(18,2)))"
        val sumPrice = "sum(CAST(l_extendedprice AS DECIMAL(18,2)))"
        val sumDisc = "sum(CAST(l_discount AS DECIMAL(18,2)))"
        val sumDiscPrice =
          """sum(CAST(l_extendedprice AS DECIMAL(12,3)) *
            |      (CAST(1 AS DECIMAL(12,3)) -
            |       CAST(l_discount AS DECIMAL(12,3))))""".stripMargin
        val sumCharge =
          """sum(CAST(l_extendedprice AS DECIMAL(12,3)) *
            |      (CAST(1 AS DECIMAL(12,3)) -
            |       CAST(l_discount AS DECIMAL(12,3))) *
            |      (CAST(1 AS DECIMAL(12,3)) +
            |       CAST(l_tax AS DECIMAL(12,3))))""".stripMargin
        s"""SELECT l_returnflag, l_linestatus,
           |  ${d2d(sumQty)} AS sum_qty,
           |  ${d2d(sumPrice)} AS sum_base_price,
           |  ${d2d(sumDiscPrice)} AS sum_disc_price,
           |  ${d2d(sumCharge)} AS sum_charge,
           |  ${d2d(sumQty)} / count(l_quantity) AS avg_qty,
           |  ${d2d(sumPrice)} / count(l_extendedprice) AS avg_price,
           |  ${d2d(sumDisc)} / count(l_discount) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // TPC-H Q5 shape (local-supplier volume): the 6-table join — facts
    // shuffle on the order key, all four dims broadcast, the local-
    // supplier condition rides the supplier join
    Case("q_tpch_q5", (s, dir) => {
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region"))
          .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      oracle("""SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): segment-filtered customers
    // broadcast into the orders⋈lineitem fact join (orders/lineitem
    // shuffle on the order key — the 100 TB-correct side assignment),
    // revenue decimal-exact, bounded top-10
    Case("q_tpch_q3", (s, dir) => {
      val d = lit("1998-01-01").cast("timestamp")
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem").filter(col("l_shipdate") > d)
        .join(t(s, dir, "orders").filter(col("o_orderdate") < d),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"),
          col("l_orderkey"))
        .limit(10)
    },
      oracle("""SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, o_orderdate, l_orderkey
          |LIMIT 10""".stripMargin)),

    // TPC-H Q10 shape (returned-item revenue): one-quarter order
    // window, R-flag lineitems, customer + nation broadcast dims,
    // top-20 accounts by lost revenue
    Case("q_tpch_q10", (s, dir) => {
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      oracle("""SELECT c_custkey, c_name, c_acctbal, n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY 1, 2, 3, 4
          |ORDER BY revenue DESC, c_custkey
          |LIMIT 20""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): the HAVING-subquery —
    // per-order quantity rollup feeds an order-key semi-join, then
    // customer broadcast; top-100 by order value
    Case("q_tpch_q18", (s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(MathOps.exactSum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      oracle("""WITH big AS (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |      AS total_qty
          |  FROM lineitem GROUP BY 1
          |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          |    AS DOUBLE) > 150.0)
          |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          |  o_totalprice, total_qty
          |FROM orders
          |JOIN big ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 100""".stripMargin)),

    // NULL-safe equi-join (<=>): NULL keys MATCH each other instead of
    // silently dropping — the semantics a dimension with "unknown"
    // buckets needs; still hash-joinable (no inequality blowup)
    Case("q_nullsafe_join", (s, dir) => {
      val ev = t(s, dir, "events")
      // a nullable bucket: value quartile, NULL for the error rows
      def bucketed(alias: String) = ev.select(
        col("event_id").as(s"${alias}_id"),
        when(col("event_type") =!= "error",
          floor(col("value") / 100.0).cast("long"))
          .otherwise(lit(null)).as(s"${alias}_bucket"))
      val a = bucketed("a").filter(col("a_id") < 500)
      val b = bucketed("b").filter(col("b_id") >= 500 &&
        col("b_id") < 1500)
      a.join(b, col("a_bucket") <=> col("b_bucket"))
        .groupBy("a_bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("a_bucket").asc_nulls_first)
    },
      // decimal→double routes through the exact decimal STRING: Spark's
      // Decimal.toDouble (BigDecimal.doubleValue) is correctly rounded,
      // while DuckDB's direct DECIMAL→DOUBLE cast double-rounds
      // (int128→double, then ÷10^scale) — strtod on the exact digits
      // restores the correctly-rounded value
      oracle("""WITH src AS (SELECT event_id,
          |    CASE WHEN event_type <> 'error'
          |      THEN CAST(floor(value / 100.0) AS BIGINT) END AS bucket
          |  FROM events),
          |a AS (SELECT event_id AS a_id, bucket AS a_bucket FROM src
          |      WHERE event_id < 500),
          |b AS (SELECT event_id AS b_id, bucket AS b_bucket FROM src
          |      WHERE event_id >= 500 AND event_id < 1500)
          |SELECT a_bucket, count(*)::BIGINT AS n_pairs
          |FROM a JOIN b ON a_bucket IS NOT DISTINCT FROM b_bucket
          |GROUP BY a_bucket ORDER BY a_bucket NULLS FIRST""".stripMargin)),

    // left-semi: customers that have orders
    Case("q_semijoin", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
      oracle("""SELECT c_mktsegment, count(*) AS n FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // left-anti: customers without orders
    Case("q_antijoin", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      oracle("""SELECT c_custkey, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin)),

    // set ops: intersect / except on nation keys
    Case("q_intersect", (s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.intersect(sn).orderBy("nk")
    },
      oracle("""SELECT c_nationkey AS nk FROM customer
          |INTERSECT
          |SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin)),

    Case("q_except", (s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.except(sn).orderBy("nk")
    },
      oracle("""SELECT c_nationkey AS nk FROM customer
          |EXCEPT
          |SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin)),

    // window functions: top-2 orders per customer
    Case("q_window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    },
      oracle("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin)),

    // lag/lead/ntile over per-user event sequences — the offset/bucketing
    // window vocabulary beyond ranking
    Case("q_lag_lead", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_event"),
          lead(col("event_id"), 1).over(w).as("next_event"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("user_id", "event_id")
    },
      // ntile cast to BIGINT on both sides (DuckDB ntile yields BIGINT,
      // Spark INT)
      oracle("""SELECT user_id, event_id,
          |       lag(event_id, 1) OVER w AS prev_event,
          |       lead(event_id, 1) OVER w AS next_event,
          |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM events WHERE user_id < 20
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, event_id""".stripMargin)),

    // dedup with representative row (argmin) — rs.ops.distinct keyed form
    Case("q_dedup_rows", (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min(struct(col("event_id"), col("value"))).as("r"))
        .select(col("user_id"), col("event_type"),
          col("r.event_id").as("event_id"), col("r.value").as("value"))
        .orderBy("user_id", "event_type"),
      oracle("""SELECT user_id, event_type,
          |       min(event_id) AS event_id,
          |       arg_min(value, event_id) AS value
          |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    // as-of join: enrich each event with the most recent order of its user
    // (sort-merge-as-of — one shuffle, no inequality-join blowup)
    Case("q_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val o = t(s, dir, "orders")
      AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts"), o,
        leftTs = col("ts"), rightTs = col("o_orderdate"),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        rightValueCols = Seq("o_orderkey", "o_totalprice"),
        rightTiebreak = col("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    },
      oracle("""SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
          |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          |  FROM events e LEFT JOIN orders o
          |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
          |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // range (interval) join: event pairs of the same user within 5 min —
    // equi-join on the key + band filter (no nested-loop: the user_id
    // equality keys the shuffle; the band is a post-join filter)
    // banded range join: shuffle key = (user, 5-min bucket), so a hot
    // user's history can't collapse onto one task (RangeJoin scaladoc)
    Case("q_range_join", (s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"))
      val a = ev.select(col("event_id").as("id_a"),
        col("user_id"), col("ts").as("ts_a"))
      val b = ev.select(col("event_id").as("id_b"),
        col("user_id"), col("ts").as("ts_b"))
      RangeJoin.timeBand(a, b, Seq("user_id"), "ts_a", "ts_b", 300L)
        .filter(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"))
        .orderBy("user_id", "id_a", "id_b")
    },
      oracle("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
          |FROM events a JOIN events b
          |  ON a.user_id = b.user_id AND a.event_id < b.event_id
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
          |ORDER BY a.user_id, id_a, id_b""".stripMargin)),

    // rollup / cube — hierarchical + full grouping sets
    Case("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      oracle("""SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    Case("q_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      oracle("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // unpivot — wide measure columns to (measure, value) rows, the
    // inverse of pivot (Spark's native unpivot/melt; map-only)
    Case("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      oracle("""SELECT l_orderkey, l_linenumber, measure, value FROM (
          |  SELECT l_orderkey, l_linenumber,
          |    'l_quantity' AS measure, l_quantity AS value
          |  FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_discount', l_discount FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_tax', l_tax FROM lineitem) u
          |WHERE l_orderkey <= 100
          |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // explicit GROUPING SETS — the two rollup paths a dashboard needs
    // without the full cube's blowup: (status, priority) and (status)
    // and () — SQL surface over the same table registered as a view
    Case("q_grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST,
          |  o_orderpriority ASC NULLS FIRST""".stripMargin)
    },
      oracle("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())
          |ORDER BY o_orderstatus NULLS FIRST,
          |  o_orderpriority NULLS FIRST""".stripMargin)),

    // pivot — event counts per user, one column per event type
    Case("q_pivot", (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("user_id"),
      oracle("""SELECT user_id,
          |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
          |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
          |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
          |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
          |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // scalar subquery (Catalyst decorrelates): orders above global mean
    Case("q_scalar_subquery", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) FROM orders)
        ORDER BY o_orderkey
      """)
    },
      oracle("""SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > (
          |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         / count(*) FROM orders)
          |ORDER BY o_orderkey""".stripMargin)),

    // scalar-function battery: string/date/null-handling expressions
    // upper() + char-slice manufacture the compare key, so this row is
    // in the plan-side guard tier (OracleXxh doc): DuckDB's upper is
    // per-codepoint (ß would not become SS) and the oracle's substr
    // must slice the same codepoints
    Case("q_scalar_funcs", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        upper(substring(
          Text.asciiOracleGuard(col("text"), "q_scalar_funcs"),
          1, 10)).as("head_up"),
        length(col("text")).as("len"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        coalesce(nullif(col("lang"), lit("en")), lit("english"))
          .as("lang_or_english"))
        .orderBy("doc_id"),
      oracle("""SELECT doc_id,
          |       upper(substr(text, 1, 10)) AS head_up,
          |       length(text) AS len,
          |       concat_ws('|', lang, source) AS tag,
          |       coalesce(regexp_extract(text, '([a-z]+)', 1), '') AS first_word,
          |       coalesce(nullif(lang, 'en'), 'english') AS lang_or_english
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Case("q_date_funcs", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy("y", "m"),
      oracle("""SELECT CAST(year(o_orderdate) AS INT) AS y,
          |       CAST(month(o_orderdate) AS INT) AS m,
          |       count(*) AS n,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin))
  )
}
