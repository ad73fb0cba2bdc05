package graft.functions

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded bucket collection for bucket-local pair generation: accumulate
  * up to `cap` (id, payload) elements per group; a group that exceeds the
  * cap finishes as NULL with its buffer DISCARDED at the moment of
  * overflow — so a pathological bucket (boilerplate band key, stop-phrase
  * shingle shared by millions of docs) costs O(cap) memory in the
  * aggregation buffer, never O(bucket). This keeps the memory guarantee
  * of a count-then-join pre-filter inside the single-shuffle
  * `groupBy(bkey).agg(...)` plan shape (a bare `collect_list` + size
  * filter only drops oversized buckets AFTER materializing them).
  *
  * Elements are (long, long): ids must be integral — hash string ids to
  * longs upstream (the engine-wide rule for shuffle keys). The unused
  * slot rides as 0 for callers that only need ids.
  */
object BoundedCollect {

  /** (items reversed-prepend order, overflowed) — order is irrelevant to
    * every caller (pair generation is order-free). */
  private type Buf = (List[(Long, Long)], Int, Boolean)

  // built once per JVM (Scala runtime reflection; Spark asks for the
  // encoders again in every deserialized task)
  private val bufferEnc = Encoders.product[Buf]
  private val outputEnc = org.apache.spark.sql.catalyst.encoders
    .ExpressionEncoder[Seq[(Long, Long)]]()

  private class PairsAgg(cap: Int)
      extends Aggregator[(Long, Long), Buf, Seq[(Long, Long)]] {
    def zero: Buf = (Nil, 0, false)
    def reduce(b: Buf, a: (Long, Long)): Buf =
      if (b._3) b
      else if (b._2 >= cap) (Nil, 0, true) // overflow: drop the buffer
      else (a :: b._1, b._2 + 1, false)
    def merge(x: Buf, y: Buf): Buf =
      if (x._3 || y._3 || x._2 + y._2 > cap) (Nil, 0, true)
      else (x._1 reverse_::: y._1, x._2 + y._2, false)
    // overflow finishes EMPTY — indistinguishable from a bucket too small
    // to pair, which is exactly the caller's drop condition (size > 1)
    def finish(b: Buf): Seq[(Long, Long)] = if (b._3) Nil else b._1
    def bufferEncoder = bufferEnc
    def outputEncoder = outputEnc
  }

  /** Column aggregate: apply to `(idCol, payloadCol)` in a groupBy;
    * yields `array<struct<_1,_2>>` of at most `cap` members — EMPTY if
    * the group overflowed (callers filter `size(...) > 1`). */
  def pairs(cap: Int): org.apache.spark.sql.expressions
      .UserDefinedFunction =
    udaf(new PairsAgg(cap), Encoders.product[(Long, Long)])
}
