package graft.streaming.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Drift
import graft.streaming.OperatorFactory

/** Windowed corpus-drift monitor as a topology factory — the streaming
  * face of [[graft.llm.Drift]]: per event-time window, the hashed-bucket
  * token counts of the incoming document stream, finished (batch side)
  * into a total-variation distance against a FROZEN reference corpus.
  * The alert a training-data pipeline wants: "this hour's crawl no
  * longer looks like the corpus we trained the filters on".
  *
  * Like [[CountMinOp]]/[[ApproxDistinctOp]], the per-window BUCKET table
  * `(window_start, bucket, cnt)` is the streaming product: state per
  * window is bounded at `buckets` rows regardless of vocabulary (the
  * [[Drift.bucketCounts]] hashed-bag trick), `sum` is distributive
  * (map-side combined, mergeable across streams/days), and rows finalize
  * in append mode when the watermark passes — ONE stateful operator, no
  * chained streaming aggregation. The TVD itself is one tiny batch step
  * over finalized windows ([[finish]]), exactly [[Drift.driftFromCounts]]
  * against the reference's bucket table, so stream and batch agree
  * bit-for-bit on the same rows (DriftSpec parity pin). Bucketed TVD
  * lower-bounds exact TVD (colliding tokens can only cancel mass), so a
  * bucketed alert threshold is conservative — also pinned.
  *
  * Config: `window` (default "1 hour"), `timestamp_col` ("ts"),
  * `text_col` ("text"), `buckets` (1024), `seed` (0); optional
  * `stratum_col` keys the cells per stratum too — "which SOURCE
  * drifted this hour" via [[finishBy]] over (window_start, stratum). */
object DriftOp extends OperatorFactory {
  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame] = {
    val win = config.getOrElse("window", "1 hour").toString
    val tsCol = config.getOrElse("timestamp_col", "ts").toString
    val textCol = config.getOrElse("text_col", "text").toString
    val buckets = config.getOrElse("buckets", 1024).toString.toInt
    val seed = config.getOrElse("seed", 0).toString.toInt
    val stratum = config.get("stratum_col").map(_.toString)
    require(buckets >= 1, s"DriftOp: buckets must be >= 1: $buckets")
    // NULL stratum refused, the driftByStratum/adjacentDrift NULL-key
    // contract — otherwise NULL-source rows silently aggregate into a
    // phantom NULL stratum cell group that flows through finishBy
    val stratumIn = stratum.map(c => Seq(
      graft.operators.Ops.refuseNull(col(c),
        lit("DriftOp: NULL stratum")).as("stratum")))
      .getOrElse(Nil)
    val stratumKey = if (stratum.isEmpty) Nil else Seq(col("stratum"))
    val cells = sources.head
      .select(Seq(window(col(tsCol), win).as("__win"),
        explode(graft.functions.Text.tokens(col(textCol))).as("__tok"))
        ++ stratumIn: _*)
      .select(Seq(col("__win"),
        pmod(xxhash64(lit(seed), col("__tok")), lit(buckets.toLong))
          .as("bucket")) ++ stratumKey: _*)
      .groupBy(col("__win") +: stratumKey :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
    Seq(cells.select(col("__win.start").as("window_start") +:
      stratumKey :+ col("bucket") :+ col("cnt"): _*))
  }

  /** Batch finisher: per finalized window, the TVD of that window's
    * bucket distribution vs the frozen reference's (`refCells` =
    * [[Drift.bucketCounts]] of the reference corpus at the SAME
    * (buckets, seed)). One row per window_start with n_a (the window's
    * tokens), n_b (the reference's), tvd_num, tvd — the per-window
    * arithmetic is exactly [[Drift.driftFromCounts]]'s (DriftSpec parity
    * pin).
    *
    * Relational on purpose (no per-window driver loop): one aggregate
    * folds each window's cells into a histogram row (≤ `buckets` map
    * entries), the reference folds into ONE such row that broadcasts,
    * and [[Drift.histNum]] finishes every window in a single pass over
    * the two maps — no join fans out over the cells. */
  def finish(cells: DataFrame, refCells: DataFrame): DataFrame =
    finishBy(cells, refCells, Seq("window_start"))

  /** [[finish]] generalized to any cell key — `keys` =
    * Seq("window_start") for the plain windowed monitor,
    * Seq("window_start", "stratum") for the per-source form emitted
    * under `stratum_col`: one TVD row per key combination, each
    * bit-identical to [[graft.llm.Drift.driftFromCounts]] on that
    * slice (DriftSpec pin). A key combination holding a NULL is
    * dropped, and an empty reference is refused. Both count tables must
    * hold one row per (key, bucket); a repeated bucket is refused by
    * the map build. */
  def finishBy(cells: DataFrame, refCells: DataFrame,
               keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "finishBy: keys must be non-empty")
    val kc = keys.map(col)
    val ref = Drift.histograms(refCells, Nil)
      .select(col("__h").as("__hb"), col("__null").as("__null_b"),
        coalesce(col("__n"),
          raise_error(lit("DriftOp.finish: empty reference"))).as("n_b"))
    Drift.histograms(cells.filter(kc.map(_.isNotNull).reduce(_ && _)), kc)
      .crossJoin(broadcast(ref))
      .withColumn("__tvd_num", Drift.histNum(col("__h"), col("__null"),
        col("__n"), col("__hb"), col("__null_b"), col("n_b")))
      .select(kc ++ Seq(col("__n").as("n_a"), col("n_b"),
        col("__tvd_num").cast("double").as("tvd_num"),
        (col("__tvd_num").cast("double") /
          (lit(2.0) * col("__n").cast("double") *
            col("n_b").cast("double"))).as("tvd")): _*)
  }
}
