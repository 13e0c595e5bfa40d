package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Parity.pround
import graft.plans.Md5Long56.md5Long56

/** Bloom-filter join prefiltering — the explicit, engine-portable form
  * of a runtime filter: build a tiny bit set from the selective build
  * side's join keys, broadcast it, and drop probe rows whose keys can't
  * possibly match BEFORE the join shuffle moves them.
  *
  * Spark 3.3+ injects this automatically for some shapes
  * (spark.sql.optimizer.runtimeFilter.bloomFilter.enabled); this
  * operator is the observable, oracle-checkable version that also works
  * when the optimizer can't prove the pattern, and it reports the
  * filter's effectiveness (pass counts + false-positive rate).
  *
  * Construction: k=3 positions per key in an m-bit space, derived from
  * the portable 56-bit md5 via the same XOR-mixed affine family as
  * MinHash ([[Dedup.affinePerm]]) — so Spark and DuckDB build
  * bit-identical filters. The "bitmap" is relational (a distinct
  * position table, <= k·n rows): at scale it broadcasts as an actual
  * bitmap (m = 2^16 -> 8 KiB) and the probe side's membership test is a
  * map-only lookup; here the semantics are the point.
  *
  * Design for 100 TB: the win is shuffle-volume avoidance — the probe
  * table (lineitem-shaped, the biggest table in the warehouse) is
  * reduced by ~2/3 before its Exchange, at the cost of a broadcast that
  * is O(build keys), not O(probe). False positives only cost wasted
  * join work, never wrong results, because the exact join still runs
  * behind the prefilter.
  */
object Bloom {

  import Dedup.affinePerm

  /** Bits in the filter (2^16 — 8 KiB as a real bitmap). */
  val BloomBits = 65536

  /** Hash count (k): positions 0..k-1 per key. */
  val BloomK = 3

  private def keyHash(keyCol: String) = md5Long56(expr(s"cast($keyCol as string)"))

  /** The k bloom positions over a column named `h`, as an array expr. */
  private def posArray: String =
    (0 until BloomK).map(i => s"(${affinePerm(i, "h")} % $BloomBits)")
      .mkString("array(", ", ", ")")

  /** Distinct bit positions set by the build side's keys. */
  def buildBits(build: DataFrame, keyCol: String): DataFrame =
    build.select(keyHash(keyCol).as("h"))
      .select(explode(expr(posArray)).as("pos"))
      .distinct()

  /** Effectiveness report: how many distinct probe keys pass the bloom
    * vs truly match, plus the false-positive rate among true negatives.
    * A probe key passes iff ALL of its (distinct) positions are set.
    *
    * Shape: ONE pass over the distinct probe keys — per-key pass/match
    * flags come from a broadcast bit join and a build-key flag join,
    * then a single global aggregate folds all three counts. (An earlier
    * version crossJoined three independent single-row aggregates, which
    * recomputed the probe-key distinct+md5 subtree three times.) */
  def prefilterStats(build: DataFrame, buildKey: String,
                     probe: DataFrame, probeKey: String): DataFrame = {
    val bits = buildBits(build, buildKey).withColumn("bset", lit(1))
    val probeKeys = probe.select(col(probeKey).as("k")).distinct()
      .select(col("k"), keyHash("k").as("h"))
      .select(col("k"), expr(s"array_distinct($posArray)").as("ps"))
    // distinct already hash-partitioned the keys on k, and explode
    // preserves that, so the groupBy below reuses the partitioning —
    // no second shuffle of the probe side
    val flags = probeKeys
      .select(col("k"), size(col("ps")).as("npos"), explode(col("ps")).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy("k", "npos").agg(count(col("bset")).as("nhit"))
      .select(col("k"), (col("nhit") === col("npos")).cast("long").as("pass"))
      .join(build.select(col(buildKey).as("k")).distinct()
        .withColumn("tm", lit(1L)), Seq("k"), "left")
    flags.agg(
        count(lit(1)).as("n_probe"),
        sum(col("pass")).as("n_bloom_pass"),
        sum(coalesce(col("tm"), lit(0L))).as("n_true_match"))
      .select(
        col("n_probe"), col("n_bloom_pass"), col("n_true_match"),
        pround(expr(
          "cast(n_bloom_pass - n_true_match as double) / cast(n_probe - n_true_match as double)"),
          6).as("fp_rate"))
  }
}

object BloomQueries {
  import Bloom._
  import Dedup.affinePermSqlDuck

  /** DuckDB mirror of the k-position list for a key hash column `h`. */
  private val posListSql = (0 until BloomK)
    .map(i => s"(${affinePermSqlDuck(i.toString, "h")}) % $BloomBits")
    .mkString("[", ", ", "]")

  val qs: Seq[Q] = Seq(
    Q("x7_bloom_prefilter",
      (s, d) => prefilterStats(
        Tables.orders(s, d).where(col("o_orderstatus") === "F"), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey"),
      Some(s"""WITH bh AS (
              |  SELECT DISTINCT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 14))::BIGINT AS h
              |  FROM orders WHERE o_orderstatus = 'F'),
              |bits AS (SELECT DISTINCT unnest($posListSql) AS pos FROM bh),
              |pk AS (
              |  SELECT DISTINCT l_orderkey AS k FROM lineitem),
              |ph AS (
              |  SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 14))::BIGINT AS h FROM pk),
              |pp AS (
              |  SELECT k, list_distinct($posListSql) AS ps FROM ph),
              |cand AS (
              |  SELECT k, len(ps) AS npos, unnest(ps) AS pos FROM pp),
              |pass AS (
              |  SELECT k FROM cand JOIN bits USING (pos)
              |  GROUP BY k, npos HAVING count(*) = npos),
              |tm AS (
              |  SELECT k FROM pk WHERE k IN
              |    (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
              |agg AS (
              |  SELECT (SELECT count(*) FROM pk) AS n_probe,
              |         (SELECT count(*) FROM pass) AS n_bloom_pass,
              |         (SELECT count(*) FROM tm) AS n_true_match)
              |SELECT n_probe, n_bloom_pass, n_true_match,
              |       floor(CAST(n_bloom_pass - n_true_match AS DOUBLE)
              |             / CAST(n_probe - n_true_match AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS fp_rate
              |FROM agg""".stripMargin),
      doc = "Bloom-filter join prefilter (portable md5 bit set, k=3, m=2^16): " +
        "pass counts + false-positive rate; the explicit runtime-filter shape"),
  )
}
