package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured SKEW tier (round 13 companion to [[ScaleSweep]]): the
  * repo's skew toolkit claims — "skewed keys → salting or AQE's
  * skew-join split" — demonstrated by measurement on a big-join
  * workload instead of asserted from the plan.
  *
  * Workload: the [[ScaleSweep]] 100x corpus (60M lineitem / 15M
  * orders — orders at ~134 MB is past any broadcast threshold, so the
  * join is a genuine two-big-sides shuffle join), with lineitem's
  * join key REMAPPED so one hot orderkey owns ~30% of all rows (the
  * CDN-mirror/template-fingerprint shape ScaleSpec pins at unit
  * scale). Three strategies compute the identical aggregate:
  *
  *  1. `aqe_skew_split` — plain join, AQE skew-join ON (the engine
  *     default): the hot sort-merge partition splits adaptively.
  *  2. `no_mitigation`  — plain join, AQE skew-join OFF: one task
  *     owns the hot partition; the straggler IS the measurement.
  *  3. `salted`         — [[graft.operators.Ops.saltedJoin]]
  *     (salts=16, AQE skew-join off): the static mitigation that
  *     also works under AQE-hostile shapes; the right side pays x16
  *     replication, which on a 15M-row right is the cost model's
  *     documented warning — expected to lose to AQE here and win
  *     only when the right is dimension-sized. Honest numbers over
  *     flattering ones.
  *
  * All three must return the SAME aggregate row count (asserted); the
  * artifact (skew_out.json) records seconds per strategy and the
  * straggler ratio no_mitigation/aqe_skew_split. Run on a quiet box
  * after ScaleSweep has materialized the 100x corpus.
  *
  * Usage: runMain graft.SkewSweep [scaledDir] [outJson]
  */
object SkewSweep {

  val Salts = 16
  val HotFraction = 10 // pmod(key, 10) < 3 → ~30% of rows on one key

  def main(args: Array[String]): Unit = {
    val scaledDir = args.headOption.getOrElse(
      ScaleSweep.scaledDirFor("/root/testdata/sf0.1", 100))
    val outJson = args.lift(1).getOrElse("skew_out.json")
    require(new java.io.File(s"$scaledDir/lineitem.parquet").exists,
      s"no scaled corpus at $scaledDir — run graft.ScaleSweep first " +
        "(factor 100)")
    val spark = graft.core.Measure.session(graft.core.Measure.cpus)

    val orders = spark.read.parquet(s"$scaledDir/orders.parquet")
    val hotKey = 1L
    // ~30% of 60M lineitem rows collapse onto orderkey 1 — the skew is
    // in the FACT side's join key, the orders side stays unique-keyed
    val li = spark.read.parquet(s"$scaledDir/lineitem.parquet")
      .withColumn("l_orderkey",
        when(pmod(col("l_orderkey"), lit(HotFraction.toLong)) < 3,
          lit(hotKey)).otherwise(col("l_orderkey")))
      .select("l_orderkey", "l_extendedprice", "l_discount")

    // the pre-flight probe the docs tell users to run BEFORE choosing a
    // mitigation: Profile.keySkew's top-1 share on the join key is the
    // detected skew, stamped into the artifact so the measurement and
    // the detection tool appear side by side
    val probed = graft.operators.Profile.keySkew(li, col("l_orderkey"),
      topN = 1).select("share").head.getDouble(0)

    def agg(joined: DataFrame): DataFrame = joined
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))

    def plain: DataFrame = agg(li.join(orders,
      col("l_orderkey") === col("o_orderkey")))
    def salted: DataFrame = agg(graft.operators.Ops.saltedJoin(
      li, orders.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), saltFrom = col("l_extendedprice"), Salts))

    def setSkewJoin(on: Boolean): Unit =
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)

    // timed action = collect the (few-row) aggregate, so the
    // cross-strategy equality below compares the actual per-group
    // counts and revenues — a row-count compare (~5 priority groups
    // exist under any join bug) would be vacuous. Counts compare
    // EXACTLY; revenue with an absolute tolerance (|diff| <= 1.0)
    // because the strategies sum doubles in different partial orders
    // (~1e-2 wobble at this magnitude) — a quantized-string compare
    // (the first cut) flaps whenever a true sum sits within the wobble
    // of a bucket boundary and would abort minutes of timed work on a
    // spurious 'join bug' (advice r13). A real join bug moves revenue
    // by whole order rows, far past $1.
    type Agg = Seq[(String, Long, Double)]
    def time(df: => DataFrame): (Double, Agg) = {
      val t0 = System.nanoTime()
      val rows: Agg = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def sameAgg(a: Agg, b: Agg): Boolean =
      a.size == b.size && a.zip(b).forall { case ((g1, n1, r1), (g2, n2, r2)) =>
        g1 == g2 && n1 == n2 && math.abs(r1 - r2) <= 1.0 }
    def show(a: Agg): String = a.map { case (g, n, r) =>
      f"$g|$n|$r%.2f" }.mkString(";")
    val waitBudget = new graft.core.Measure.WaitBudget(300000L)
    def awaitQuietBox(): Unit =
      { graft.core.Measure.awaitQuietBox(waitBudget); () }

    // warmup (scan caches, JIT) once with the cheap mitigated shape
    setSkewJoin(true); plain.count()
    val results = Seq(
      "aqe_skew_split" -> (() => { setSkewJoin(true); plain }),
      "no_mitigation" -> (() => { setSkewJoin(false); plain }),
      "salted" -> (() => { setSkewJoin(false); salted })
    ).map { case (name, mk) =>
      awaitQuietBox()
      val (t1, c1) = time(mk())
      val (t2, c2) = time(mk())
      require(sameAgg(c1, c2), s"$name: nondeterministic aggregate")
      (name, math.min(t1, t2), c1)
    }
    setSkewJoin(true)
    val ns = results.map(_._3)
    require(ns.forall(sameAgg(_, ns.head)),
      "strategies disagree on the aggregate CONTENT (join bug): " +
        results.map(r => s"${r._1} -> ${show(r._3).take(120)}")
          .mkString(" | "))

    // Scenario 2 — join EXPANSION on the hot key: the base scenario
    // measured that a unique-keyed right side self-absorbs (the hot
    // task's extra sort overlaps the suite's scan); THIS is the shape
    // where the hot task's work explodes instead — the hot orderkey
    // matches 5 right rows, so one task materializes 18M x 5 = 90M
    // join rows through the partial aggregate while the other 31
    // handle ~1.3M each. The measured case FOR AQE's skew split.
    // (salted is omitted: scenario 1 already measured its big-right
    // cost-model violation at 6.5x; nothing new to learn for x16 more
    // replication.)
    val hotRight = orders.filter(col("o_orderkey") === hotKey)
      .crossJoin(broadcast(spark.range(5).select(lit(1).as("__d"))))
      .drop("__d")
    val ordersExp = orders.filter(col("o_orderkey") =!= hotKey)
      .unionByName(hotRight)
    def plainExp: DataFrame = agg(li.join(ordersExp,
      col("l_orderkey") === col("o_orderkey")))
    val expResults = Seq(
      "exp_aqe_skew_split" -> (() => { setSkewJoin(true); plainExp }),
      "exp_no_mitigation" -> (() => { setSkewJoin(false); plainExp })
    ).map { case (name, mk) =>
      awaitQuietBox()
      val (t1, c1) = time(mk())
      val (t2, c2) = time(mk())
      require(sameAgg(c1, c2), s"$name: nondeterministic aggregate")
      (name, math.min(t1, t2), c1)
    }
    setSkewJoin(true)
    require(expResults.map(_._3).forall(sameAgg(_, expResults.head._3)),
      "expansion strategies disagree on the aggregate CONTENT")
    val t = (results ++ expResults).map(r => r._1 -> r._2).toMap
    val straggler = t("no_mitigation") / t("aqe_skew_split")
    val expStraggler = t("exp_no_mitigation") / t("exp_aqe_skew_split")
    val json =
      s"""{"metric":"skew_straggler_ratio","value":$straggler,""" +
        s""""unit":"x (no_mitigation / aqe_skew_split)",""" +
        f""""hot_fraction":0.3,"probed_top1_share":$probed%.3f,""" +
        s""""salts":$Salts,""" +
        (results ++ expResults)
          .map(r => s""""${r._1}":${r._2}""").mkString(",") +
        f""","exp_straggler_ratio":$expStraggler%.2f,""" +
        s""""agg_groups":${ns.head.size},""" +
        s""""scaled":"$scaledDir"}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
