package graft

import org.apache.spark.sql.functions._

import graft.plans.FixedDotProduct.fpDot

class FixedDotProductSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
    (Seq(-7L, 0L, 100000L), Seq(3L, 9L, 100000L)),
    (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")

  test("fp_dot is registered via GraftExtensions and matches the HOF form") {
    assert(spark.catalog.functionExists("fp_dot"))
    val got = df.select(
      expr("fp_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
        .as("hof")).as[(Long, Long)].collect()
    assert(got.forall { case (n, h) => n == h })
    assert(got(0)._1 === 32L)
    assert(got(1)._1 === 9999999979L) // -21 + 1e10
    assert(got(2)._1 === 0L)
  }

  test("fp_dot null array yields null") {
    val r = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(fpDot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("fp_dot participates in whole-stage codegen") {
    // a parquet-backed input, so the projection isn't constant-folded
    // into a LocalTableScan
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(expr(operators.Similarity.fixedExpr).as("f"))
    val plan = vecs.select(fpDot(col("f"), col("f")).as("d"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage; fp_dot must be
    // inside one (the HOF-based transform projection above it is not)
    assert(plan.split("\n").exists(l => l.contains("fp_dot") && l.trim.startsWith("*(")))
  }
}
