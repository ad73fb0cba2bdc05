package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Misra-Gries heavy-hitters sketch as a mergeable Aggregator — the
  * streaming/distributed answer to "top tokens / hottest keys" at
  * 100 TB, completing the sketch battery (HLL distinct counts,
  * percentile_approx quantiles, Distogram histograms). Fixed O(m)
  * state, partial-aggregation friendly; merge follows Agarwal et al.,
  * "Mergeable Summaries" (PODS'12): sum counts, then subtract the
  * (m+1)-th largest and drop non-positives.
  *
  * Guarantees (n = stream length): every estimated count is within
  * [true − n/(m+1), true]; any item with true frequency > n/(m+1) is
  * in the sketch. Counts (not membership of the guaranteed heavy
  * hitters) can vary slightly with merge order — read the top-j for
  * j ≪ m, where rankings are stable.
  *
  * Items are longs (hash tokens/keys upstream — the engine-wide
  * shuffle-key rule; join hashes back to strings against a small
  * distinct table for display). */
object FreqItems {

  // built once per JVM (Scala runtime reflection; Spark asks for the
  // encoders again in every deserialized task)
  private val bufferEnc = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[Map[Long, Long]]()
  private val outputEnc = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[Seq[(Long, Long)]]()

  private class MisraGries(m: Int)
      extends Aggregator[Long, Map[Long, Long], Seq[(Long, Long)]] {
    def zero: Map[Long, Long] = Map.empty

    def reduce(b: Map[Long, Long], item: Long): Map[Long, Long] =
      b.get(item) match {
        case Some(c) => b.updated(item, c + 1)
        case None if b.size < m => b.updated(item, 1L)
        case None => // decrement-all, drop zeros (classic MG step)
          b.flatMap { case (k, c) => if (c > 1) Some(k -> (c - 1)) else None }
      }

    def merge(x: Map[Long, Long], y: Map[Long, Long]): Map[Long, Long] = {
      val summed = y.foldLeft(x) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c)
      }
      if (summed.size <= m) summed
      else {
        // subtract the (m+1)-th largest count, keep strictly positive
        val cut = summed.values.toIndexedSeq.sorted(
          Ordering[Long].reverse)(m)
        summed.flatMap { case (k, c) =>
          if (c > cut) Some(k -> (c - cut)) else None
        }
      }
    }

    /** Descending estimated count, ties to smaller item. */
    def finish(b: Map[Long, Long]): Seq[(Long, Long)] =
      b.toSeq.sortBy { case (k, c) => (-c, k) }

    def bufferEncoder = bufferEnc
    def outputEncoder = outputEnc
  }

  /** Column aggregate over a LONG item column: yields
    * `array<struct<_1 item, _2 est_count>>`, best first. */
  def sketch(m: Int): org.apache.spark.sql.expressions
      .UserDefinedFunction = {
    require(m > 0, "m must be positive")
    udaf(new MisraGries(m), Encoders.scalaLong)
  }

  /** SEQUENTIAL Misra-Gries fold over an ORDERED item array — the
    * deterministic-replay AUDIT sibling of [[sketch]] (the Ivf.train
    * pattern: a bounded, deterministically ordered sample folded in
    * one defined order, so any engine replays the exact state). The
    * distributed [[sketch]] is the production path — its counts are
    * merge-order dependent, hence rows-only checkable; this fold's
    * entire state is a pure function of the input sequence and
    * hash-matches a DuckDB `list_reduce` replay (q_heavy_hitters_
    * oracle). Bound the array upstream (`slice`) — the fold is
    * per-row sequential by design.
    *
    * State: `array<struct<k, c>>` in insertion order (classic MG:
    * present key +1; room left → append (k, 1); full → decrement all,
    * drop zeros). Entirely codegen HOFs — no UDF. */
  def orderedFold(items: org.apache.spark.sql.Column, m: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(m > 0, "m must be positive")
    aggregate(items,
      expr("CAST(array() AS array<struct<k:bigint,c:bigint>>)"),
      (acc, x) =>
        when(exists(acc, s => s.getField("k") === x),
          transform(acc, s =>
            when(s.getField("k") === x,
              struct(s.getField("k").as("k"),
                (s.getField("c") + lit(1L)).as("c"))).otherwise(s)))
          .when(size(acc) < m,
            array_append(acc, struct(x.as("k"), lit(1L).as("c"))))
          .otherwise(filter(
            transform(acc, s => struct(s.getField("k").as("k"),
              (s.getField("c") - lit(1L)).as("c"))),
            s => s.getField("c") > lit(0L))))
  }

  // --- Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05) --------------
  //
  // The deterministic counterpart to Misra-Gries: given fixed
  // (depth, width, hash), the sketch table is a pure function of the
  // multiset — merge-order free — so unlike MG it is fully
  // oracle-checkable (DuckDB replays the xxhash64 row hashes via
  // OracleXxh and hash-matches estimates bit-exactly). Guarantees:
  // est >= true, and est <= true + eps*N with prob 1-delta for
  // width=ceil(e/eps), depth=ceil(ln 1/delta).
  //
  // Scale shape: the table is groupBy(r, bucket).count — map-side
  // combine caps every task's shuffle output at depth*width rows, and
  // the reduced table (<= depth*width rows) broadcasts to the lookup
  // join. Streaming: count is distributive, so the same construction
  // works as a windowed streaming aggregate.

  private def cmCell(item: org.apache.spark.sql.Column, r: Int, width: Int) = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    // xxhash64(item, r) seed-chains: hashInt(r, seed = hash(item, 42)) —
    // one derived hash per row, replayed in SQL as g_xxh_int(r, h0)
    xxhash64(item, lit(r)).bitwiseAND(lit((width - 1).toLong)).cast("int")
  }

  /** Sketch table `(groupCols..., r int, bucket int, cnt long)` over an
    * item column (one item per input row; explode token arrays
    * upstream). `width` must be a power of two (bucket = low bits of
    * the hash). `groupCols` yields one independent sketch per group —
    * e.g. a time-window column for streaming per-window sketches
    * ([[graft.streaming.ops.CountMinOp]]); `count` is distributive, so
    * the same construction runs batch and append-mode streaming. */
  def countMinTable(df: org.apache.spark.sql.DataFrame,
                    item: org.apache.spark.sql.Column,
                    depth: Int, width: Int,
                    groupCols: Seq[org.apache.spark.sql.Column] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(depth > 0 && width > 0 && (width & (width - 1)) == 0,
      s"need depth>0 and power-of-two width: depth=$depth width=$width")
    val rows = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmCell(item, r, width).as("bucket")))
    df.select(groupCols :+ explode(array(rows: _*)).as("rb"): _*)
      .groupBy(groupCols ++ Seq(col("rb.r").as("r"),
        col("rb.bucket").as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two cell tables built with the SAME (depth, width) —
    * cross-day / cross-stream / cross-window multiset-union semantics:
    * counts are additive, so the summed table is exactly the sketch of
    * the concatenated input (the CM linearity property). Shapes must
    * match `(r, bucket, cnt)` as emitted by [[countMinTable]], and the
    * per-row guard ERRORS on cells outside [0, depth) × [0, width) —
    * a table built at different parameters would otherwise merge into
    * a plausible-looking sketch whose est >= true guarantee is broken
    * (the [[graft.functions.Hll.mergeRegisters]] rule). */
  def mergeCells(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame,
                 depth: Int, width: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(depth > 0 && width > 0 && (width & (width - 1)) == 0,
      s"need depth>0 and power-of-two width: depth=$depth width=$width")
    // exact-shape contract, enforced: a GROUPED cell table (extra
    // window/group columns) would union fine and then silently SUM
    // ACROSS GROUPS in the groupBy below — a plausible-looking sketch
    // of the wrong multiset (the same rule the parameter guard states)
    for (df <- Seq(a, b))
      require(df.columns.sorted.toSeq == Seq("bucket", "cnt", "r"),
        s"mergeCells needs exactly (r, bucket, cnt) — got " +
          s"(${df.columns.mkString(", ")}); select the one group/window " +
          "to merge first")
    val guarded = when(
      col("r") < 0 || col("r") >= depth ||
        col("bucket") < 0 || col("bucket") >= width || col("cnt") < 0,
      raise_error(concat(
        lit(s"mergeCells: cell out of range for depth=$depth " +
          s"width=$width — inputs built at different parameters? r="),
        col("r").cast("string"), lit(" bucket="),
        col("bucket").cast("string"), lit(" cnt="),
        col("cnt").cast("string"))).cast("long"))
      .otherwise(col("cnt"))
    a.unionByName(b)
      .withColumn("cnt", guarded)
      .groupBy("r", "bucket")
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point estimates for the items in `items` (a small query-side frame):
    * est = min over the depth rows of the matching cell counts. Keeps
    * every `items` column and appends `est_cnt`. The sketch side is
    * `depth*width` rows at most after the internal (r, bucket) collapse
    * — broadcast, no shuffle of `items`. A cell table with multiple
    * rows per (r, bucket) (per-window tables, concatenated days) is
    * summed first, so the estimate is over the UNION of its parts; to
    * estimate one window, filter the table to it before calling. */
  def countMinLookup(sketch: org.apache.spark.sql.DataFrame,
                     items: org.apache.spark.sql.DataFrame,
                     item: org.apache.spark.sql.Column,
                     depth: Int, width: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // (depth, width) must MATCH the sketch's build parameters: a
    // different width hashes probes into different buckets and the
    // est >= true guarantee silently breaks (under-counts possible)
    require(depth > 0 && width > 0 && (width & (width - 1)) == 0,
      s"need depth>0 and power-of-two width: depth=$depth width=$width")
    // collapse the sketch to ONE row per (r, bucket) first — CM counts
    // are additive (linearity), so a multi-row cell table (e.g. the
    // per-window table CountMinOp emits, unfiltered) looks up as the
    // sketch of the UNION of its windows, keeping est >= true. Without
    // this, min() ranged over per-window rows and returned the minimum
    // single-window count: neither a per-window nor a total estimate,
    // and an UNDER-count of the total. A single-window input is
    // unchanged (sum over one row).
    val cells = sketch.select(col("r"), col("bucket"), col("cnt"))
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
    val others = items.columns.toIndexedSeq
    val probes = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmCell(item, r, width).as("bucket")))
    items
      .select(others.map(col) :+ explode(array(probes: _*)).as("rb"): _*)
      .join(broadcast(cells),
        col("rb.r") === cells("r") && col("rb.bucket") === cells("bucket"),
        "left")
      .groupBy(others.map(col): _*)
      // a row whose cell is absent from the table was never incremented
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }
}
