package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel and cohort-retention analytics over event streams —
  * the behavioral-query face of the engine (the reference's event
  * topics feed exactly this kind of question downstream).
  *
  * Both operators are pure relational compositions keyed on the user
  * column: a k-step funnel is k filtered min-aggregations chained by
  * strictly-after joins, retention is one first-touch aggregate plus
  * one integer date arithmetic groupBy — every shuffle is keyed by
  * user (then cohort), nothing is ever collected, and all outputs are
  * exact integers/dates, so results replay bit-for-bit in SQL
  * (q_funnel / q_retention).
  */
object Funnel {

  /** First-match ordered funnel: step k matches a user's EARLIEST
    * event of type `steps(k)` strictly after their matched step k−1
    * event (greedy-earliest is optimal for reachability: taking the
    * earliest valid occurrence can only widen later steps' windows).
    * With `withinSeconds`, steps 2..k must also land within that span
    * of the step-1 match — the conversion-window form.
    *
    * Output: (<user>, depth) for every user with at least one step-1
    * event; depth in [1, k] = furthest step reached. Scale shape: k−1
    * user-keyed join+min-agg rounds over frames that only SHRINK
    * (each round keeps converting users only); the event table is
    * filtered to one step's type before each aggregation. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String],
             withinSeconds: Option[Long] = None): DataFrame =
    funnelLatency(events, userCol, typeCol, tsCol, steps, withinSeconds)
      .select(col(userCol), col("depth"))

  /** [[funnel]] plus the matched TIMESTAMPS — the conversion-latency
    * view: `t_first` = the step-1 match, `t_last` = the furthest
    * step's match, `latency_us` = their exact integer micros gap (0 at
    * depth 1). Feed `latency_us` to [[graft.operators.MathOps
    * .quantileByKey]] keyed by depth for the p50-time-to-convert
    * dashboard number (q_funnel_latency composes exactly that). Same
    * shape and cost as [[funnel]] — the timestamps were always inside
    * the per-step aggregates; this surface just keeps them. */
  def funnelLatency(events: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, steps: Seq[String],
                    withinSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      "repeated step types are ambiguous — funnel steps must be distinct")
    val u = col(userCol)
    // step 1: earliest event of the first type per user
    var reached = events.filter(col(typeCol) === steps.head)
      .groupBy(u.as("__u")).agg(min(col(tsCol)).as("__t1"))
      .withColumn("__prev", col("__t1"))
    var out = reached.select(col("__u"), lit(1).as("depth"),
      col("__t1").as("t_first"), col("__t1").as("t_last"))
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val ev = events.filter(col(typeCol) === step)
        .select(u.as("__eu"), col(tsCol).as("__et"))
      val cond = withinSeconds match {
        case Some(s) => col("__et") > col("__prev") &&
          col("__et") <= col("__t1") + expr(s"INTERVAL $s SECONDS")
        case None => col("__et") > col("__prev")
      }
      reached = reached.join(ev, col("__eu") === col("__u"))
        .filter(cond)
        .groupBy("__u").agg(min(col("__et")).as("__next"),
          first(col("__t1")).as("__t1"))
        .withColumn("__prev", col("__next")).drop("__next")
      out = out.join(
        reached.select(col("__u"), lit(i + 1).as("__d"),
          col("__prev").as("__tl")),
        Seq("__u"), "left")
        .select(col("__u"),
          coalesce(col("__d"), col("depth")).as("depth"),
          col("t_first"),
          coalesce(col("__tl"), col("t_last")).as("t_last"))
    }
    out.select(col("__u").as(userCol), col("depth"), col("t_first"),
      col("t_last"),
      (unix_micros(col("t_last")) - unix_micros(col("t_first")))
        .as("latency_us"))
  }

  /** Funnel summary: users reaching at least step k, for k = 1..n —
    * the conversion curve. One tiny aggregate over [[funnel]]'s
    * output. Output: (step, users). */
  def funnelCounts(perUser: DataFrame, nSteps: Int): DataFrame = {
    require(nSteps >= 1, "nSteps must be >= 1")
    val steps = perUser.sparkSession.range(1, nSteps + 1)
      .select(col("id").cast("int").as("step"))
    steps.join(perUser, col("depth") >= col("step"), "left")
      .groupBy("step")
      .agg(count(col("depth")).as("users"))
      .orderBy("step")
  }
}

/** Cohort retention: group users by their first-touch period, then
  * count how many are still active k periods later. */
object Retention {

  /** (__u, cohort, period) per event row: cohort = ISO week (Monday)
    * of the user's first event, period = floor(days since the user's
    * FIRST event day / 7). One user-keyed min-aggregate + one
    * user-keyed join. */
  private def periodsFrame(events: DataFrame, userCol: String,
                           tsCol: String): DataFrame = {
    val first = events.groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(tsCol))).as("__d0"))
      .withColumn("__cohort", date_trunc("week", col("__d0")).cast("date"))
    events.select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .join(first, "__u")
      .select(col("__u"), col("__cohort").as("cohort"),
        floor(datediff(col("__d"), col("__d0")) / 7).cast("int")
          .as("period"))
  }

  /** Weekly cohort retention matrix. Output: (cohort, period, users)
    * with EXACT distinct-user counts — (cohort, period 0) is the
    * cohort size. Scale shape: the matrix is one (cohort, period)-
    * keyed distinct-count over [[periodsFrame]]; output is
    * |cohorts|·|periods| rows. The exact distinct shuffles every
    * (cohort, period, user) triple once — at 100 TB switch to
    * [[weeklyHll]], whose state per cell is 2^p registers instead. */
  def weekly(events: DataFrame, userCol: String, tsCol: String)
      : DataFrame =
    periodsFrame(events, userCol, tsCol)
      .groupBy("cohort", "period")
      .agg(count_distinct(col("__u")).as("users"))
      .orderBy("cohort", "period")

  /** The retention matrix at HLL precision — the 100 TB path: per
    * (cohort, period) cell a 2^p-register sketch replaces the exact
    * distinct (map-side combine caps each task's shuffle at
    * cells × 2^p rows regardless of user cardinality), and the
    * register tables stay MERGEABLE across days/streams — yesterday's
    * matrix unions with today's without replaying either. Same
    * estimate contract as [[graft.functions.Hll.estimate]]
    * (`est_millis` floor fixed-point + integer diagnostics), so the
    * whole chain is oracle-replayable (q_retention_hll). */
  def weeklyHll(events: DataFrame, userCol: String, tsCol: String,
                p: Int = 6): DataFrame = {
    val g = Seq(col("cohort"), col("period"))
    graft.functions.Hll.estimate(
      graft.functions.Hll.registers(
        periodsFrame(events, userCol, tsCol), col("__u"), p, g), p, g)
      .orderBy("cohort", "period")
  }

  /** Rolling distinct actives — the DAU/WAU/MAU dashboard number: per
    * PRESENT day, the HLL-estimated distinct users over the trailing
    * `windowDays` days. This is exactly what the mergeable register
    * algebra is for: the per-(day, bucket) table is computed ONCE (one
    * aggregate over events), and every window is a register-max union
    * of ≤ `windowDays` daily tables — no re-scan of the event corpus
    * per window, which is what a naive per-day `COUNT(DISTINCT …
    * trailing 7d)` costs. The window expansion runs over the sketch
    * (days × 2^p rows), corpus-size-independent; the day fan-out is an
    * equi-keyed explode (no inequality join) semi-joined to present
    * days so trailing synthetic days never appear.
    *
    * The whole estimate chain is the fixed-point [[graft.functions.Hll]]
    * arithmetic — oracled bit-exact (q_rolling_actives). Output per day:
    * est_millis, nonempty_buckets, register_sum. */
  def rollingActives(events: DataFrame, userCol: String, tsCol: String,
                     windowDays: Int = 7, p: Int = 6): DataFrame = {
    val daily = events.select(col(tsCol).cast("date").as("day"),
      col(userCol).as("__u"))
    rollingFromRegisters(
      graft.functions.Hll.registers(daily, col("__u"), p,
        Seq(col("day"))), windowDays, p)
  }

  /** The rolling-union finisher on its own: takes ANY per-day register
    * table `(day DATE, bucket, register)` — [[rollingActives]]'s batch
    * aggregate, or the streaming `ops.ApproxDistinctOp` window product
    * with `window_start` cast to its day — and emits the trailing
    * `windowDays`-day estimates for the PRESENT days. This is the
    * cross-surface payoff of sketches-as-tables: the stream emits
    * bounded per-window registers once, and any window length is a
    * batch merge after the fact (StreamingSpec pins streaming cells →
    * rolling == the batch corpus answer). */
  def rollingFromRegisters(regs: DataFrame, windowDays: Int,
                           p: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    // regs feeds BOTH the window fan-out and the present-days probe —
    // persisted (days x 2^p rows, bounded regardless of user
    // cardinality) so the events scan + register aggregate runs once.
    // The merged register table is bounded too (≤ days x 2^p rows), so
    // it is materialized eagerly via localCheckpoint and the cached
    // input released before returning — a buried never-unpersisted
    // frame leaked one cache entry per finisher call in long-lived
    // sessions
    Ops.withPersisted(regs) { cells =>
      val contrib = cells.select(
        explode(expr(s"sequence(day, date_add(day, ${windowDays - 1}))"))
          .as("day"),
        col("bucket"), col("register"))
      val present = cells.select("day").distinct()
      val merged = contrib.join(broadcast(present), "day")
        .groupBy("day", "bucket").agg(max(col("register")).as("register"))
        .localCheckpoint()
      graft.functions.Hll.estimate(merged, p, Seq(col("day")))
        .orderBy("day")
    }
  }
}
