package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregation for similarity-search ranking: keep the k
  * best (id, score) pairs per group, ordered score-descending with ties
  * broken by ascending id.
  *
  * This replaces the `row_number() over (partition by query_id)` ranking
  * finale: a window moves EVERY scored candidate row through one exchange
  * keyed by query_id — with a handful of queries that is a few hot
  * reducers owning the whole corpus's scored rows. As an Aggregator the
  * ranking runs with partial aggregation (map-side combine), so each map
  * task sends at most k rows per (partition, query) into the shuffle —
  * the exchange is O(partitions × queries × k) regardless of corpus size,
  * the shape that survives a 100 TB corpus scan.
  *
  * State is a sorted list capped at k: O(k) per insert/merge, O(k) memory
  * per group. k is a user-facing top-k (tens, not millions) — for a
  * "bounded collect" at larger caps see [[BoundedCollect]].
  */
object TopKCollect {

  private[graft] type Item = (Long, Double) // (id, score)

  /** Ranking order: score descending, ties to the smaller id — matches
    * `orderBy(col("cosine").desc, col("nbr_id"))`. Total order even for
    * NaN scores (ranked greatest, Spark's sort semantics — a bare `>`
    * is never true for NaN, which would make insert and merge disagree
    * and the result partition-layout dependent) and for ±0.0
    * (normalized equal before the compare). */
  private def beats(a: Item, b: Item): Boolean = {
    val c = java.lang.Double.compare(a._2 + 0.0, b._2 + 0.0)
    c > 0 || (c == 0 && a._1 < b._1)
  }

  /** Insert into a best-first sorted list, keeping at most k elements. */
  private def insert(b: List[Item], a: Item, k: Int): List[Item] =
    if (k == 0) Nil
    else b match {
      case Nil => a :: Nil
      case h :: t =>
        if (beats(h, a)) h :: insert(t, a, k - 1)
        else a :: b.take(k - 1)
    }

  /** Merge two best-first sorted lists, keeping at most k elements. */
  private def mergeSorted(x: List[Item], y: List[Item], k: Int)
      : List[Item] =
    if (k == 0) Nil
    else (x, y) match {
      case (Nil, _) => y.take(k)
      case (_, Nil) => x.take(k)
      case (hx :: _, hy :: _) =>
        if (beats(hx, hy)) hx :: mergeSorted(x.tail, y, k - 1)
        else hy :: mergeSorted(x, y.tail, k - 1)
    }

  // built once per JVM: an ExpressionEncoder is derived by Scala
  // runtime reflection, and Spark asks the aggregator for its encoders
  // again in every deserialized task
  private val bufferEnc = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[List[Item]]()
  private val outputEnc = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[Seq[Item]]()

  private[graft] class TopKAgg(k: Int)
      extends Aggregator[Item, List[Item], Seq[Item]] {
    def zero: List[Item] = Nil
    def reduce(b: List[Item], a: Item): List[Item] = insert(b, a, k)
    def merge(x: List[Item], y: List[Item]): List[Item] =
      mergeSorted(x, y, k)
    def finish(b: List[Item]): Seq[Item] = b
    def bufferEncoder = bufferEnc
    def outputEncoder = outputEnc
  }

  /** Column aggregate: apply to `(idCol, scoreCol)` in a groupBy; yields
    * `array<struct<_1,_2>>` of the k best items, best first — posexplode
    * to recover (rank-1, id, score). */
  def topk(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(k > 0, "k must be positive")
    udaf(new TopKAgg(k), Encoders.product[Item])
  }
}
