package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Order-sensitive rolling document fingerprint as a native expression:
  * fp = fold over tokens of (acc * 1000003 + md5mod(token)) mod (2^31-1),
  * where md5mod = the first 15 hex chars of the token's md5 read base-16,
  * reduced mod 2^31-1 — engine-portable (DuckDB computes the identical
  * value), which is what makes fingerprints oracle-checkable.
  *
  * Replaces the `aggregate(tokens(c), ...)` higher-order fold that
  * interpreted one lambda and one Catalyst md5/conv/substring chain per
  * token on the q25 hot path. Byte-identical semantics, including null in
  * -> null out and 0 for token-less documents. Tokenization shares
  * [[WordShingles]]'s kernel contract: lowercase, split `\s+`, drop
  * empties.
  */
case class DocFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"DocFingerprint requires a string input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    DocFingerprint.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DocFingerprint.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$cls.fingerprint($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DocFingerprint =
    copy(child = newChild)
}

object DocFingerprint {

  private val P31 = 2147483647L
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** First 15 hex chars of md5(bytes) read base-16 (60 bits, always
    * non-negative), mod 2^31-1 — the same value as
    * `conv(substring(md5(s), 1, 15), 16, 10) % (2^31-1)`. */
  private def md5Mod(s: String): Long = {
    val d = Md5.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 nibbles = bytes 0..6 in full plus the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v = (v << 4) | ((d(7) & 0xf0L) >> 4)
    v % P31
  }

  /** Shared kernel for interpreted and generated code. */
  def fingerprint(s: UTF8String): Long = {
    val toks = Ws.split(s.toLowerCase.toString)
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) acc = (acc * 1000003L + md5Mod(toks(i))) % P31
      i += 1
    }
    acc
  }

  def column(c: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(DocFingerprint(bridge.expression(c)))
  }
}
