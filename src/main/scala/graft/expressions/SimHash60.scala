package graft.expressions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash (Charikar, STOC 2002) of a text column over
  * md5-derived token hashes, in one codegen'd pass — the fingerprint of
  * the [[graft.functions.SimHash]] near-dup tier, exactly replayable in
  * any engine with md5: token hash = the first 15 hex chars of `md5(token)`
  * read as a 60-bit integer, fingerprint bit b = majority vote
  * `2·|{tokens with bit b set}| ≥ |tokens|` over the DISTINCT tokens
  * (ties round up, pinned on both sides). The q96 DuckDB oracle rebuilds
  * the identical fingerprints from md5 hex in SQL.
  *
  * Why an expression (SURVEY §7.3 tier): a Column formulation is 60
  * interpreted `aggregate` folds per row; this is one pass per row with a
  * thread-cached MessageDigest, inside WholeStageCodegen via a static
  * call. Tokens are deduplicated by their 60-bit hash — identical to
  * string-level distinct unless md5 collides in 60 bits (~m²/2⁶¹).
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(t: Any): Any =
    SimHash60.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {

  /** Column API: 60-bit md5-based simhash of whitespace tokens. */
  def simhash60(text: Column): Column =
    GraftColumn(SimHash60(GraftColumn.expr(text)))

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes[from, until)) — the value of the first 15
    * hex chars of the digest read as a base-16 integer.
    */
  private def md5Head60(bytes: Array[Byte], from: Int, until: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, from, until - from)
    val d = md.digest()
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Single-pass compute; called from both eval and generated code. */
  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    // token boundaries on every 0x20 (multi-byte UTF8 never contains 0x20)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    val hashes = new Array[Long](nTok)
    var t = 0
    var start = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        hashes(t) = md5Head60(bytes, start, i); t += 1; start = i + 1
      }
      i += 1
    }
    // distinct tokens ⇔ distinct 60-bit hashes w.h.p.
    java.util.Arrays.sort(hashes)
    var n = 1
    i = 1
    while (i < nTok) {
      if (hashes(i) != hashes(i - 1)) { hashes(n) = hashes(i); n += 1 }
      i += 1
    }
    // majority vote per bit over the n distinct hashes; ties round up
    var fp = 0L
    var b = 0
    while (b < 60) {
      var ones = 0
      i = 0
      while (i < n) { ones += ((hashes(i) >>> b) & 1L).toInt; i += 1 }
      if (2 * ones >= n) fp |= 1L << b
      b += 1
    }
    fp
  }
}
