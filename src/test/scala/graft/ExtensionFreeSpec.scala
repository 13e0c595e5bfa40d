package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, KMeans, Sampling, Similarity, TextAnalysis}
import graft.plans.FixedDotProduct.fpDot
import graft.plans.GopherStats.gopherStats
import graft.plans.Md5Long56.md5Long56

/** The operators build graft's native expressions as Columns, so they
  * need no GraftExtensions. On a session where the SQL names
  * `md5_long56`, `fp_dot` and `gopher_stats` do not resolve, every
  * operator that hashes, dots or counts through them must return
  * bit-identical rows to the shared (extension-installed) session. */
class ExtensionFreeSpec extends SparkSpec {

  private val sqlNames = Seq("md5_long56", "fp_dot", "gopher_stats")

  /** A sibling of the shared session (same SparkContext and conf) with
    * the three SQL names dropped from its own function registry. */
  private lazy val bare: SparkSession = {
    val s = spark.newSession()
    sqlNames.foreach(n => s.sql(s"DROP TEMPORARY FUNCTION $n"))
    s
  }

  /** Rows as sorted strings: Double.toString round-trips, so equal
    * strings mean equal bits. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def assertSameOnBare(op: (SparkSession, String) => DataFrame): Unit = {
    val dir = sf("sf0.001")
    val want = rows(op(spark, dir))
    assert(want.nonEmpty)
    assert(rows(op(bare, dir)) === want)
  }

  test("the SQL names resolve only on the shared session; the Columns on both") {
    sqlNames.foreach { n =>
      val e = intercept[AnalysisException](bare.sql(s"SELECT $n('x')").collect())
      assert(e.getCondition === "UNRESOLVED_ROUTINE", e.getMessage)
      assert(spark.catalog.functionExists(n), s"$n dropped from the shared session")
    }
    def natives(s: SparkSession) = rows(s.range(1).select(
      md5Long56(lit("mix:42")),
      fpDot(array(lit(3L), lit(-2L)), array(lit(5L), lit(7L))),
      gopherStats(lit("the cat sat on a mat"))))
    assert(natives(bare) === natives(spark))
    assert(natives(bare) === rows(spark.sql(
      "SELECT md5_long56('mix:42'), fp_dot(array(3L, -2L), array(5L, 7L))," +
        " gopher_stats('the cat sat on a mat')")))
  }

  test("Dedup.minhashSignature is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => Dedup.minhashSignature(Tables.documents(s, d), 8))
  }

  test("Sampling.bootstrapCI is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => Sampling.bootstrapCI(Tables.documents(s, d)))
  }

  test("TextAnalysis.gopherRules is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => TextAnalysis.gopherRules(Tables.documents(s, d)))
  }

  test("Similarity.cosineTopK is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => Similarity.cosineTopK(Tables.embeddings(s, d), 3, 5))
    // the native dot product, not an interpreted higher-order fallback
    val plan = Similarity.cosineTopK(Tables.embeddings(bare, sf("sf0.001")), 3, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("fp_dot") && !plan.contains("zip_with"), plan.take(800))
  }

  test("Similarity.lshBuckets is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => Similarity.lshBuckets(Tables.embeddings(s, d), 8))
  }

  test("KMeans.kmeansStep is bit-identical without GraftExtensions") {
    assertSameOnBare((s, d) => KMeans.kmeansStep(Tables.embeddings(s, d), 6))
  }
}
