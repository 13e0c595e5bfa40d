package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `gopher_stats(text) -> struct<n_tokens, sum_wlen, n_stop, n_alpha>`:
  * the per-doc Gopher-rule token census as ONE native codegen byte pass.
  *
  * Replaces (and is spec-pinned equal to) the interpreted composition
  * over `toks = filter(split(text, '[ \t\n\r\f]+'), x -> x != '')`:
  *
  *   - `size(toks)`                                        (n_tokens)
  *   - `aggregate(toks, 0L, (s, x) -> s + length(x))`      (sum_wlen)
  *   - `size(filter(toks, x -> array_contains(stop, x)))`  (n_stop)
  *   - `size(filter(toks, x -> x rlike '^[a-zA-Z]+$'))`    (n_alpha)
  *
  * Why native (guide: expressions/codegen; VERDICT r19 item 1): every
  * higher-order function above evaluates INTERPRETED per token, with
  * lambda-variable boxing, and the four folds each re-walk the token
  * array — after a regex split that allocated the array in the first
  * place. This expression makes one pass over the raw text bytes:
  * tokens are maximal runs of non-delimiter bytes (the exact delimiter
  * class `[ \t\n\r\f]`, whose members are single ASCII bytes — UTF-8
  * continuation/lead bytes can never collide with them), token length
  * counts non-continuation bytes (== codepoints for valid UTF-8, the
  * `length()` convention), the stopword test is an exact byte compare
  * against the 10-word list, and the alpha test is `[A-Za-z]+` over
  * bytes (a multi-byte char fails it, exactly as the regex does; this
  * is also RE2/DuckDB's `$` semantics — the oracle's — which unlike
  * java.util.regex does not let a trailing U+2028/U+0085 sneak past
  * an end anchor; the corpus is whitespace-token ASCII, where the two
  * regex dialects agree, and the equivalence spec pins it).
  *
  * Null text propagates null (split/HOFs over null did the same).
  */
case class GopherStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gopher_stats expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = GopherStats.Schema
  override def prettyName: String = "gopher_stats"

  override def nullSafeEval(v: Any): Any =
    GopherStats.stats(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GopherStats.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

object GopherStats {

  /** The per-doc token census struct of string column `text`. */
  def gopherStats(text: Column): Column = column(GopherStats(expression(text)))

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_wlen", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false)))

  /** The canonical stopword list (TextAnalysis.Stopwords aliases this —
    * one source of truth for the expression, the HOF form it replaced,
    * and the oracle SQL). All-ASCII lowercase, compared byte-exact. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "to",
    "in", "that", "it", "on")

  private val StopBytes: Array[Array[Byte]] =
    Stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  @inline private def isDelim(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  private def isStop(s: UTF8String, start: Int, end: Int): Boolean = {
    val len = end - start
    var w = 0
    while (w < StopBytes.length) {
      val sb = StopBytes(w)
      if (sb.length == len) {
        var j = 0
        while (j < len && s.getByte(start + j) == sb(j)) j += 1
        if (j == len) return true
      }
      w += 1
    }
    false
  }

  /** One byte pass: (n_tokens, sum_wlen, n_stop, n_alpha). */
  def stats(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    var nTok = 0L; var sumW = 0L; var nStop = 0L; var nAlpha = 0L
    var i = 0
    while (i < n) {
      if (isDelim(s.getByte(i))) i += 1
      else {
        val start = i
        var chars = 0L
        var alpha = true
        var b = s.getByte(i)
        while (!isDelim(b)) {
          if ((b & 0xC0) != 0x80) chars += 1
          if (alpha &&
              !((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z'))) alpha = false
          i += 1
          if (i >= n) b = ' ' else b = s.getByte(i)
        }
        nTok += 1
        sumW += chars
        if (alpha) nAlpha += 1
        if (isStop(s, start, i)) nStop += 1
      }
    }
    new GenericInternalRow(Array[Any](nTok, sumW, nStop, nAlpha))
  }
}
