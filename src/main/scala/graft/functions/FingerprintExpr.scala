package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content fingerprint kernel — the native form of
  * `substring(md5(trim(regexp_replace(lower(text), "\\s+", " "))), 1, 16)`
  * ([[Text.fingerprintRegexp]], the executable spec).
  *
  * Why: the declarative form is three string passes plus a UTF-16
  * round trip per row (the regex engine works on a java String), and it
  * materializes the normalized text only to hash it. This kernel lowers
  * once (UTF8String.toLowerCase, the same lowering as [[Tokens]]), walks
  * the tokens with [[TextBytes.isWs]] and streams each token, with one
  * 0x20 between tokens, into a per-thread MD5 — exactly the bytes of the
  * normalized text, never built. Runs of tokens already separated by a
  * single 0x20 byte go to the digest as one span, so ordinary prose
  * costs one `update` per document.
  *
  * Exact-equivalence contract (pinned corpus-wide and on edge strings,
  * codegen and interpreted, in TextKernelSpec): the normalized text is
  * the tokens of `lower(text)` joined by " " (whitespace runs → one
  * space, ends stripped); the digest's first 8 bytes are hex-encoded
  * lower-case, the first 16 characters of `md5()`. The contract covers
  * valid UTF-8 (what parquet and JSON sources hand over). */
object FingerprintKernel {
  // the shared whitespace contract — see TextBytes.isWs
  private def isWs(b: Byte): Boolean = TextBytes.isWs(b)

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private val hex = "0123456789abcdef".getBytes("US-ASCII")

  def fingerprint(text: UTF8String): UTF8String = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val d = md5.get() // digest() below resets it for the next row
    // the pending span [from, to) is normalized text not yet digested
    var from = 0
    var to = -1
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        if (to < 0) { from = start; to = i }
        else if (start == to + 1 && bytes(to) == 0x20) to = i
        else {
          d.update(bytes, from, to - from)
          d.update(0x20.toByte)
          from = start; to = i
        }
      }
    }
    if (to > from) d.update(bytes, from, to - from)
    val dig = d.digest()
    val out = new Array[Byte](16)
    var j = 0
    while (j < 8) {
      out(2 * j) = hex((dig(j) >> 4) & 0xf)
      out(2 * j + 1) = hex(dig(j) & 0xf)
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

case class Fingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_fingerprint"
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_fingerprint needs string, got ${other.catalogString}")
    }
  override def nullSafeEval(input: Any): Any =
    FingerprintKernel.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.FingerprintKernel.fingerprint($s);")
  override protected def withNewChildInternal(newChild: Expression)
      : Fingerprint = copy(child = newChild)
}

object Fingerprint {
  def apply(text: Column): Column =
    ColumnBridge.column(Fingerprint(ColumnBridge.expression(text)))
}
