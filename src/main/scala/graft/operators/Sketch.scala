package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.plans.Md5Long56.md5Long56

/** Count-Min Sketch over the token stream, formulated relationally so it
  * is engine-portable and oracle-checkable.
  *
  * The sketch itself is the tiny (depth × width) bucket table
  * `groupBy(row, pos).agg(sum(count))` — Catalyst makes that map-side
  * combinable, which IS the mergeable-sketch property: at 100 TB each
  * partition builds its partial sketch and the shuffle merges them, with
  * at most depth×width rows ever crossing the wire per partition. Point
  * estimates come from broadcasting the bucket table back onto the
  * queried keys and taking `min` across the depth rows (the classic CMS
  * upper bound: estimate >= true count, over-counting only from bucket
  * collisions).
  *
  * Hash family: one 56-bit md5 prefix per word, then XOR-mixed affine
  * permutations `(2j+1)·((h XOR off_j) mod P) + off_j mod P` per sketch
  * row — the same engine-portable construction as
  * [[Dedup.minhashSignature]] (Spark's murmur3 `hash()` and DuckDB's
  * hash() disagree; md5 never does). */
object Sketch {

  private def pos(row: Int, width: Int): String =
    s"(${Dedup.affinePerm(row, "h")}) % $width"

  private[graft] def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(expr(Dedup.tokensExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("h", md5Long56(col("word")))

  private def positioned(counts: DataFrame, depth: Int, width: Int): DataFrame = {
    val rows = (0 until depth).map(j =>
      s"struct($j as row, ${pos(j, width)} as pos)").mkString(", ")
    counts
      .select(col("word"), col("n"),
        explode(expr(s"array($rows)")).as("rp"))
      .select(col("word"), col("n"),
        col("rp.row").as("row"), col("rp.pos").as("pos"))
  }

  /** The sketch itself: (row, pos, bucket_n), depth×width rows. */
  def cmsSketch(docs: DataFrame, depth: Int, width: Int): DataFrame =
    positioned(tokenCounts(docs), depth, width)
      .groupBy("row", "pos").agg(sum(col("n")).as("bucket_n"))

  /** (word, n, cms_est) for every distinct token: exact count next to the
    * CMS estimate from a depth×width sketch. The token-count table feeds
    * both the sketch (whose broadcast side exchange reuse cannot dedup)
    * and the estimate join, so it is computed once via viaSharedScan. */
  def cmsWordCounts(docs: DataFrame, depth: Int, width: Int): DataFrame =
    Dedup.viaSharedScan(tokenCounts(docs))(cmsEstimateJoin(_, depth, width))

  /** The lazy estimate join over a (word, n, h) token-count table —
    * split out so its plan stays auditable (the public entry wraps it
    * in an eager checkpoint; same discipline as prefixJoin). */
  private[graft] def cmsEstimateJoin(counts: DataFrame, depth: Int,
                                     width: Int): DataFrame = {
    val p = positioned(counts, depth, width)
    val sketch = p.groupBy("row", "pos").agg(sum(col("n")).as("bucket_n"))
    p.join(broadcast(sketch), Seq("row", "pos"))
      .groupBy("word", "n")
      .agg(min(col("bucket_n")).as("cms_est"))
  }
}

object SketchQueries {
  val qs: Seq[Q] = Seq(
    Q("g7_cms_wordcounts",
      (s, d) => Sketch.cmsWordCounts(Tables.documents(s, d), 4, 64)
        .orderBy("word"),
      Some(s"""WITH counts AS (
             |  SELECT word, count(*) AS n,
             |         ('0x' || substr(md5(word), 1, 14))::BIGINT AS h
             |  FROM (SELECT unnest(list_filter(
             |                 string_split_regex(text, '[ \t\n\r\f]+'),
             |                 x -> x <> '')) AS word
             |        FROM documents)
             |  GROUP BY word),
             |positioned AS (
             |  SELECT word, n, j AS row,
             |         (${Dedup.affinePermSqlDuck("j", "h")}) % 64 AS pos
             |  FROM counts, (SELECT unnest(range(0, 4)) AS j)),
             |sketch AS (
             |  SELECT row, pos, CAST(sum(n) AS BIGINT) AS bucket_n
             |  FROM positioned GROUP BY row, pos)
             |SELECT p.word, p.n, min(s.bucket_n) AS cms_est
             |FROM positioned p JOIN sketch s ON p.row = s.row AND p.pos = s.pos
             |GROUP BY p.word, p.n ORDER BY p.word""".stripMargin),
      doc = "Count-Min Sketch (depth 4 x width 64) next to exact counts — " +
        "mergeable-sketch heavy-hitter counting, relationally formulated. " +
        "EAGER: building this DataFrame runs the job (viaSharedScan " +
        "checkpoint) — keep it out of explain()/plan-dump paths"),
  )
}
