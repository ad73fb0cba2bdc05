package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Streaming histogram sketch — the direct analogue of maki-nage's
  * distogram (`rs.math.dist.*`, SURVEY.md §2.4: the project's "Real-Time
  * Histogram Plots on Unbounded Data" story), as a Ben-Haim/Tom-Tov
  * streaming-parallel decision-tree histogram.
  *
  * Properties that make it 100 TB-correct:
  *  - fixed size: ≤ `maxBins` (value, count) centroids regardless of input;
  *  - mergeable: partial sketches combine associatively → Spark runs it as
  *    a partial+final aggregate with map-side combine (no raw-value
  *    shuffle);
  *  - one pass, no sort (unlike exact percentile).
  *
  * Registered as a typed `Aggregator` (preference tier: typed Aggregator
  * before Catalyst surgery — SURVEY.md §7.3).
  */
object Distogram {

  /** (centroid value, count) pairs, ordered by value. */
  case class Sketch(bins: Vector[(Double, Long)]) {
    def count: Long = bins.map(_._2).sum

    /** Quantile estimate by linear interpolation over cumulative centroid
      * mass (BHTT "uniform" procedure, simplified trapezoid). */
    def quantile(q: Double): Double = {
      require(q >= 0 && q <= 1)
      if (bins.isEmpty) return Double.NaN
      val total = count.toDouble
      val target = q * total
      var cum = 0.0
      var i = 0
      while (i < bins.length) {
        if (cum + bins(i)._2 >= target) {
          // interpolate between centroid i-1 and i; at i == 0 every
          // target within the first bin maps to the head centroid (the
          // simplified-trapezoid convention the oracles replay)
          if (i == 0) return bins.head._1
          val v0 = bins(i - 1)._1
          val v1 = bins(i)._1
          val inside = target - cum
          return v0 + (v1 - v0) * (inside / bins(i)._2.toDouble)
        }
        cum += bins(i)._2
        i += 1
      }
      bins.last._1
    }
  }

  private def compress(bins: Vector[(Double, Long)], maxBins: Int)
      : Vector[(Double, Long)] = {
    var b = bins
    while (b.length > maxBins) {
      // merge the closest adjacent pair (weighted mean, summed count)
      var best = 0
      var bestGap = Double.MaxValue
      var i = 0
      while (i < b.length - 1) {
        val gap = b(i + 1)._1 - b(i)._1
        if (gap < bestGap) { bestGap = gap; best = i }
        i += 1
      }
      val (v1, c1) = b(best)
      val (v2, c2) = b(best + 1)
      val merged = ((v1 * c1 + v2 * c2) / (c1 + c2), c1 + c2)
      b = (b.take(best) :+ merged) ++ b.drop(best + 2)
    }
    b
  }

  private def insertSorted(bins: Vector[(Double, Long)], v: Double,
                           c: Long): Vector[(Double, Long)] = {
    val idx = bins.indexWhere(_._1 >= v)
    if (idx >= 0 && bins(idx)._1 == v)
      bins.updated(idx, (v, bins(idx)._2 + c))
    else if (idx < 0) bins :+ ((v, c))
    else (bins.take(idx) :+ ((v, c))) ++ bins.drop(idx)
  }

  // built once per JVM (Scala runtime reflection; Spark asks for the
  // encoders again in every deserialized task)
  private val sketchEnc: Encoder[Sketch] = Encoders.product[Sketch]

  /** Typed aggregator: use as
    * `df.groupBy(...).agg(Distogram.sketch(32).toColumn)` on Dataset, or
    * via `udaf`/`functions.udaf` registration for DataFrames. */
  def sketch(maxBins: Int): Aggregator[Double, Sketch, Sketch] =
    new Aggregator[Double, Sketch, Sketch] {
      def zero: Sketch = Sketch(Vector.empty)
      def reduce(s: Sketch, v: Double): Sketch =
        Sketch(compress(insertSorted(s.bins, v, 1L), maxBins))
      def merge(a: Sketch, b: Sketch): Sketch =
        Sketch(compress(
          b.bins.foldLeft(a.bins) { case (acc, (v, c)) =>
            insertSorted(acc, v, c)
          }, maxBins))
      def finish(s: Sketch): Sketch = s
      def bufferEncoder: Encoder[Sketch] = sketchEnc
      def outputEncoder: Encoder[Sketch] = sketchEnc
    }

  /** SEQUENTIAL BHTT fold over an ORDERED value array — the
    * deterministic-replay AUDIT sibling of [[sketch]] (the
    * FreqItems.orderedFold pattern): the distributed sketch's centroids
    * are merge-order dependent (hence rows-only checkable), but this
    * fold's state is a pure function of the input sequence — every
    * centroid is a fixed chain of IEEE ops (one multiply per side, one
    * add, one divide per merge) that DuckDB replays bit-for-bit
    * (q_distogram_oracle). Bound the array upstream (`slice`); per-item
    * work is O(maxBins), entirely codegen HOFs, no UDF.
    *
    * Per item: exact-equal centroid → count+1; else sorted insert,
    * and when bins exceed `maxBins`, merge the closest adjacent pair
    * (FIRST minimal gap — array_position semantics on both engines),
    * weighted-mean value, summed count — one merge per item by
    * construction, exactly [[sketch]]'s reduce arithmetic. */
  def orderedFold(items: org.apache.spark.sql.Column, maxBins: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    require(maxBins >= 2, s"maxBins must be >= 2: $maxBins")
    val init = expr("CAST(array() AS array<struct<v:double,c:bigint>>)")
    aggregate(items, init, (acc: Column, x: Column) => {
      val updated = transform(acc, b =>
        when(b.getField("v") === x,
          struct(b.getField("v").as("v"),
            (b.getField("c") + lit(1L)).as("c"))).otherwise(b))
      val inserted = concat(
        filter(acc, b => b.getField("v") < x),
        array(struct(x.as("v"), lit(1L).as("c"))),
        filter(acc, b => b.getField("v") > x))
      // single-element-array "let" binding (the OracleXxh lambda-let
      // trick, Spark side): gaps/best reference the bound s2, not a
      // re-evaluated insert expression
      val compressed = transform(array(inserted), s2 => {
        val n = size(s2)
        val gaps = transform(sequence(lit(1), n - 1), i =>
          element_at(s2, (i + 1).cast("int")).getField("v") -
            element_at(s2, i.cast("int")).getField("v"))
        val best = array_position(gaps, array_min(gaps)).cast("int")
        val b1 = element_at(s2, best)
        val b2 = element_at(s2, best + 1)
        val merged = struct(
          ((b1.getField("v") * b1.getField("c") +
            b2.getField("v") * b2.getField("c")) /
            (b1.getField("c") + b2.getField("c"))).as("v"),
          (b1.getField("c") + b2.getField("c")).as("c"))
        when(n <= maxBins, s2).otherwise(
          concat(slice(s2, lit(1), best - 1), array(merged),
            slice(s2, best + 2, n - best - 1)))
      })
      element_at(
        when(exists(acc, b => b.getField("v") === x), array(updated))
          .otherwise(compressed), 1)
    })
  }
}
