package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `md5_long56(string) -> bigint`: the portable 56-bit md5 prefix as ONE
  * native codegen expression — bit-identical to the composed form
  * `cast(conv(substr(md5(c), 1, 14), 16, 10) as bigint)` (the first 14
  * hex chars of an md5 are its first 7 digest bytes, read big-endian;
  * 56 bits always fit a positive long), and to the DuckDB mirror
  * `('0x' || substr(md5(c), 1, 14))::BIGINT`.
  *
  * Why native (guide: expressions/codegen): the composed chain is
  * codegen'd but allocation-heavy PER ROW — Md5 hex-encodes the full
  * 16-byte digest into a 32-char string, Substring slices it, and Conv
  * re-parses the hex through NumberConverter (another byte[] round
  * trip). This expression digests the UTF-8 bytes and assembles the
  * long directly: no hex string, no substring, no radix parse. It is
  * the per-row kernel of every shingle/key hash in the dedup ladder —
  * the hot inner loop of the corpus-scale passes at 100 TB.
  *
  * Null propagates (matches md5/conv/cast null semantics). Input is
  * StringType only — every call site hashes a string key (casting
  * non-strings explicitly is the md5Long56 contract). Operators call it
  * as a Column through [[Md5Long56.md5Long56]]; `md5_long56` is its SQL
  * name under GraftExtensions.
  */
case class Md5Long56(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_long56 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long56"

  override def nullSafeEval(v: Any): Any =
    Md5Long56.hash(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Long56.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long56 =
    copy(child = newChild)
}

object Md5Long56 {

  /** The 56-bit md5-prefix long of string column `c` (DuckDB mirror:
    * `('0x' || substr(md5(c), 1, 14))::BIGINT`). Non-string keys are cast
    * by the caller. */
  def md5Long56(c: Column): Column = column(Md5Long56(expression(c)))

  // MessageDigest is stateful — one per thread, reset by digest() itself.
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 7 md5 digest bytes of the UTF-8 encoding, big-endian. */
  def hash(s: UTF8String): Long = {
    val d = md.get()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 48) | ((b(1) & 0xffL) << 40) |
      ((b(2) & 0xffL) << 32) | ((b(3) & 0xffL) << 24) |
      ((b(4) & 0xffL) << 16) | ((b(5) & 0xffL) << 8) | (b(6) & 0xffL)
  }
}
