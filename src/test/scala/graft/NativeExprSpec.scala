package graft

import org.apache.spark.sql.functions._

import graft.plans.GopherStats.gopherStats
import graft.plans.Md5Long56.md5Long56

/** Pins the r20 native codegen expressions (md5_long56, gopher_stats)
  * byte-identical to the composed/HOF forms they replaced — on the real
  * corpus AND on adversarial edge strings. These are the equivalence
  * gates VERDICT r19 item 1 demands before the interpreted forms go.
  * The `is registered` tests call the SQL names GraftExtensions gives
  * them; the rest call the Column functions the operators use. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r20 composed md5 fragment (what the oracle still mirrors). */
  private def composed(c: String) =
    s"cast(conv(substr(md5($c), 1, 14), 16, 10) as bigint)"

  test("md5_long56 is registered and matches conv(substr(md5)) on edges") {
    assert(spark.catalog.functionExists("md5_long56"))
    val edges = Seq("", "a", "0", "the quick brown fox", "über-token",
      "é ", "x" * 10000, "mix:42", "bs:7:3",
      "line\nbreak\ttab", "😀 emoji")
    val df = edges.toDF("s")
    val got = df.select(expr("md5_long56(s)").as("n"),
      expr(composed("s")).as("c")).as[(Long, Long)].collect()
    got.foreach { case (n, c) => assert(n == c) }
  }

  test("md5_long56 null propagates") {
    val r = Seq(Option.empty[String]).toDF("s")
      .select(md5Long56(col("s"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("md5_long56 matches the composed form on real corpus keys") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val mism = docs
      .select(expr("lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f]+', ' ')))")
        .as("s"))
      .where(md5Long56(col("s")) =!= expr(composed("s")))
      .count()
    assert(mism === 0L)
  }

  test("md5_long56 participates in whole-stage codegen") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("text").as("s"))
    val plan = docs.select(md5Long56(col("s")).as("h"))
      .queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("md5_long56") && l.trim.startsWith("*(")))
  }

  // ---- gopher_stats ----

  /** The pre-r20 HOF composition gopher_stats replaced, verbatim. */
  private def hofStats = {
    val stopArr = graft.plans.GopherStats.Stopwords
      .map(w => s"'$w'").mkString("array(", ", ", ")")
    Seq(
      expr("size(toks)").cast("long").as("h_tokens"),
      expr("aggregate(toks, 0L, (s, x) -> s + length(x))").as("h_wlen"),
      expr(s"size(filter(toks, x -> array_contains($stopArr, x)))")
        .cast("long").as("h_stop"),
      expr("size(filter(toks, x -> x rlike '^[a-zA-Z]+$'))")
        .cast("long").as("h_alpha"))
  }

  test("gopher_stats matches the HOF composition on the real corpus") {
    assert(spark.catalog.functionExists("gopher_stats"))
    val docs = Tables.documents(spark, sf("sf0.01"))
    val both = docs
      .select(col("doc_id"), col("text"),
        expr(operators.Dedup.tokensExpr).as("toks"))
      .select(Seq(col("doc_id"), gopherStats(col("text")).as("gs")) ++
        hofStats: _*)
    val mism = both.where(
      col("gs.n_tokens") =!= col("h_tokens") ||
        col("gs.sum_wlen") =!= col("h_wlen") ||
        col("gs.n_stop") =!= col("h_stop") ||
        col("gs.n_alpha") =!= col("h_alpha")).count()
    assert(mism === 0L)
  }

  test("gopher_stats edge strings (empty / whitespace / unicode / case)") {
    val edges = Seq(
      "",                       // no tokens
      " \t\n\r\f ",             // delimiters only
      "the THE The tHe",        // stopword matching is case-sensitive
      "a",                      // 1-char stopword, alpha
      "ab-cd ab_cd 123 a1",     // non-alpha tokens
      "  leading and trailing  ",
      "café naïve",   // multi-byte chars: not alpha, 4/5 chars
      "Straße 中文 ok", // multi-byte length counting
      "on on on of of it")
    val df = edges.toDF("text")
      .select(col("text"), expr(operators.Dedup.tokensExpr).as("toks"))
    val both = df.select(Seq(expr("gopher_stats(text)").as("gs")) ++
      hofStats: _*)
    val rows = both.collect()
    rows.foreach { r =>
      val gs = r.getStruct(0)
      assert(gs.getLong(0) === r.getLong(1), s"n_tokens in $r")
      assert(gs.getLong(1) === r.getLong(2), s"sum_wlen in $r")
      assert(gs.getLong(2) === r.getLong(3), s"n_stop in $r")
      assert(gs.getLong(3) === r.getLong(4), s"n_alpha in $r")
    }
    // spot-check absolute values on the unicode row
    val uni = both.collect()(6).getStruct(0)
    assert(uni.getLong(0) === 2L)      // café naïve
    assert(uni.getLong(1) === 9L)      // 4 + 5 chars
    assert(uni.getLong(3) === 0L)      // neither is [A-Za-z]+
  }

  test("gopher_stats: a trailing U+2028 / U+2029 / U+0085 is no alpha token") {
    // the documented dialect divergence: these are not delimiters, so each
    // string is one 4-char token; java.util.regex's `$` would match before
    // the trailing line terminator (the HOF form counts it alpha), but
    // the byte pass — like RE2/DuckDB, the oracle's dialect — does not
    val rows = Seq("abc\u2028", "abc\u2029", "abc\u0085").toDF("text")
      .select(gopherStats(col("text")).as("gs")).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val gs = r.getStruct(0)
      assert(gs.getLong(0) === 1L, s"n_tokens in $r")
      assert(gs.getLong(1) === 4L, s"sum_wlen in $r")
      assert(gs.getLong(3) === 0L, s"n_alpha in $r")
    }
  }

  test("gopher_stats null text yields null") {
    val r = Seq(Option.empty[String]).toDF("text")
      .select(gopherStats(col("text"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("gopher_stats participates in whole-stage codegen") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plan = docs.select(gopherStats(col("text")).as("gs"))
      .queryExecution.executedPlan.toString
    assert(plan.split("\n").exists(l =>
      l.contains("gopher_stats") && l.trim.startsWith("*(")))
  }
}
