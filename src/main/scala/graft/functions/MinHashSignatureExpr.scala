package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over a shingle-hash array: for hash function
  * k ∈ [0, numHashes), emits min over the input longs of
  * XXH64.hashLong(h, seed = k).
  *
  * Why a custom Expression (tier (b)): the HOF formulation
  * `transform(sequence(0, n-1), k -> array_min(transform(hs, h ->
  * xxhash64(k, h))))` dispatches numHashes × |hs| interpreted lambdas per
  * row — the dominant cost of MinHash at corpus scale. This compiles to a
  * nested primitive loop over [[MinHashKernel]] (numHashes × |hs| hash
  * finishes, no allocation beyond the output array and one long per
  * shingle).
  *
  * Null elements are skipped; an all-null/empty input yields
  * Long.MaxValue sentinels (no shingles → no collisions, since bucket
  * keys hash the whole band).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature needs array<bigint>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      MinHashKernel.signature(input.asInstanceOf[ArrayData], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = new $gad(" +
        s"graft.functions.MinHashKernel.signature($hs, $numHashes));")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  def apply(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(hashes), numHashes))
}

object MinHashKernel {
  // XXH64's primes (org.apache.spark.sql.catalyst.expressions.XXH64)
  private final val P1 = 0x9E3779B185EBCA87L
  private final val P2 = 0xC2B2AE3D27D4EB4FL
  private final val P3 = 0x165667B19E3779F9L
  private final val P4 = 0x85EBCA77C2B2AE63L
  private final val P5 = 0x27D4EB2F165667C5L

  /** min over the non-null `hs` of `XXH64.hashLong(h, k)`, for each
    * k < numHashes. `hashLong(h, k)` is
    * `fmix(rotl((k + P5 + 8) ^ m, 27) * P1 + P4)` with
    * `m = rotl(h * P2, 31) * P1` independent of the seed, so m is
    * computed once per shingle and only the seed-dependent rest runs
    * numHashes × |hs| times (bit-parity with the plain `hashLong` loop
    * pinned in BandKeysSpec). */
  def signature(hs: ArrayData, numHashes: Int): Array[Long] = {
    val n = hs.numElements()
    val m = new Array[Long](n)
    var len = 0
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        m(len) = java.lang.Long.rotateLeft(hs.getLong(i) * P2, 31) * P1
        len += 1
      }
      i += 1
    }
    val out = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) {
      val s = k + P5 + 8L
      var min = Long.MaxValue
      var j = 0
      while (j < len) {
        var h = java.lang.Long.rotateLeft(s ^ m(j), 27) * P1 + P4
        h ^= h >>> 33
        h *= P2
        h ^= h >>> 29
        h *= P3
        h ^= h >>> 32
        if (h < min) min = h
        j += 1
      }
      out(k) = min
      k += 1
    }
    out
  }
}
