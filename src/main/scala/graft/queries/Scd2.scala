package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.operators.Ops

import SparkEntry.{t, scd2Sql}
import Case.oracle

/** The SCD2 interval builder (a reference-table producer), profile
  * deltas and upserts. */
object Scd2 extends Family {

  val cases: Seq[Case] = Seq(

    // per-user event_type change log → validity intervals with
    // consecutive equal states collapsed; the producer side of q_asof's
    // reference tables. All windows keyed by user_id.
    Case("q_scd2", (s, dir) =>
      graft.operators.Scd.scd2(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("key").as("user_id"), col("state"),
          col("effective_from"), col("effective_to"),
          col("is_current"), col("n_events"))
        .orderBy("user_id", "effective_from", "state"),
      // SCD2 replay: null-safe change flags (IS NOT DISTINCT FROM ≡
      // Spark's <=>), keyed cumulative run ids, run collapse, interval
      // close via lead over runs
      oracle(scd2Sql("TRUE")),
      materializeCtes = true),

    // ingest-audit drift: per-column null-rate/distinct deltas between
    // two event snapshots (even vs odd ids) — schema-rot detection in
    // two single-pass profiles + a |cols|-row join
    Case("q_profile_delta", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Profile.delta(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        Seq("event_id", "user_id", "event_type", "value", "props"))
    },
      // profile-delta replay: the q_profile aggregate twice (even/odd
      // halves) joined on col_name, identical IEEE delta arithmetic
      oracle {
        val cols = Seq("event_id", "user_id", "event_type", "value",
          "props")
        def side(tag: String, pred: String) = {
          val aggs = cols.zipWithIndex.map { case (c, i) =>
            s"count($c) AS c$i, count(DISTINCT $c) AS d$i"
          }.mkString(", ")
          val branches = cols.zipWithIndex.map { case (c, i) =>
            s"""SELECT '$c' AS col_name, n AS n_$tag,
               |  n - c$i AS nulls_$tag, d$i AS distinct_$tag
               |FROM agg_$tag""".stripMargin
          }.mkString("\nUNION ALL\n")
          s"""agg_$tag AS (SELECT count(*) AS n, $aggs
             |  FROM events WHERE $pred),
             |p_$tag AS (
             |$branches)""".stripMargin
        }
        s"""WITH ${side("a", "event_id % 2 = 0")},
           |${side("b", "event_id % 2 = 1")}
           |SELECT col_name, n_a, nulls_a, distinct_a,
           |  n_b, nulls_b, distinct_b,
           |  CAST(nulls_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
           |    CAST(nulls_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           |    AS null_rate_delta,
           |  distinct_b - distinct_a AS distinct_delta
           |FROM p_a JOIN p_b USING (col_name)
           |ORDER BY col_name""".stripMargin
      },
      materializeCtes = true),

    // CDC apply: latest-wins upsert of a change feed (odd event ids)
    // into a per-user snapshot (latest even row) — one union + one
    // keyed window, the "current state" table builder
    Case("q_upsert", (s, dir) => {
      val ev = t(s, dir, "events")
        .select("user_id", "event_type", "value", "ts", "event_id")
      val snap = (ev.filter(pmod(col("event_id"), lit(2)) === 0) >>
        Ops.lastBy(Seq(col("user_id")), Seq(col("ts"), col("event_id"))))
      val changes = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      graft.operators.Cdc.upsert(snap, changes, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")))
        .orderBy("user_id")
    },
      // upsert replay: snapshot = latest even row per user, union the
      // odd changes, keep the per-user max (ts, event_id) row
      oracle("""WITH snap AS (SELECT user_id, event_type, value, ts, event_id
          |  FROM (SELECT user_id, event_type, value, ts, event_id,
          |      row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events WHERE event_id % 2 = 0) s WHERE rn = 1),
          |u AS (SELECT * FROM snap
          |  UNION ALL
          |  SELECT user_id, event_type, value, ts, event_id
          |  FROM events WHERE event_id % 2 = 1)
          |SELECT user_id, event_type, value, ts, event_id FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts DESC, event_id DESC) AS rn FROM u) t
          |WHERE rn = 1 ORDER BY user_id""".stripMargin))
  )
}
