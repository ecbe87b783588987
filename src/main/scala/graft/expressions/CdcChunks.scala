package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (the LBFS rule, Muthitacharoen et al. 2001) as
  * a native Catalyst expression: a chunk ends after every `w`-character
  * window whose md5 hex digest starts with '0' (the high nibble of the
  * first digest byte is zero), and at the end of the text.
  *
  * One tight loop per row, shared by the interpreted and generated paths:
  * it steps code points with `UTF8String`'s own rule, hashes each window's
  * UTF-8 byte range with the thread's [[Md5]] digest and cuts the row's
  * bytes at the boundaries. Composed from higher-order functions, the same
  * rule interprets a lambda and builds a substring plus a 32-char hex
  * string at every character.
  *
  * Semantics are those of that composed form and of the DuckDB twin:
  * characters are code points, text shorter than `w` is one chunk, the
  * chunks are non-empty and concatenate back to the input, and null or
  * empty text yields an empty array (never null).
  */
case class CdcChunks(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StringType =>
      TypeCheckResult.TypeCheckFailure(s"CDC window must be >= 1, got $w")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"CdcChunks requires a string input, got ${other.simpleString}")
  }

  // null input maps to [], so eval/codegen bypass the null-safe helpers
  override def eval(input: InternalRow): Any =
    CdcChunks.chunks(child.eval(input).asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = CdcChunks.getClass.getName.stripSuffix("$")
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $cls.chunks(${childGen.isNull} ? null : ${childGen.value}, $w);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Shared kernel for interpreted and generated code. Byte offsets step
    * by `UTF8String.numBytesForFirstByte`, the rule `length` and `substr`
    * count characters with; a truncated final sequence is clamped to the
    * row's bytes. */
  def chunks(s: UTF8String, w: Int): ArrayData = {
    if (s == null || s.numBytes == 0) return Empty
    val bytes = s.getBytes
    val n = bytes.length
    def next(i: Int): Int =
      math.min(n, i + UTF8String.numBytesForFirstByte(bytes(i)))
    // [lo, hi) is the window of the w characters ending at hi
    var hi = 0
    var k = 0
    while (k < w && hi < n) { hi = next(hi); k += 1 }
    val cuts = new scala.collection.mutable.ArrayBuilder.ofInt
    var last = 0
    if (k == w) {
      val md = Md5.get()
      val digest = new Array[Byte](16)
      var lo = 0
      var more = true
      while (more) {
        md.update(bytes, lo, hi - lo)
        md.digest(digest, 0, 16)
        if ((digest(0) & 0xF0) == 0) { cuts += hi; last = hi }
        if (hi < n) { lo = next(lo); hi = next(hi) } else more = false
      }
    }
    if (last != n) cuts += n
    val ends = cuts.result()
    val out = new Array[Any](ends.length)
    var start = 0
    var i = 0
    while (i < out.length) {
      val end = ends(i)
      out(i) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, end))
      start = end
      i += 1
    }
    new GenericArrayData(out)
  }

  def column(c: Column, w: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(CdcChunks(bridge.expression(c), w))
  }
}
