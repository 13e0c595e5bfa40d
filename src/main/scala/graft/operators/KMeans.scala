package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.functions.Parity.pround
import graft.plans.FixedDotProduct.fpDot

/** One Lloyd iteration of k-means over the embedding table (SURVEY.md
  * §2.G [EXT] extension) — the building block of embedding-space corpus
  * curation (topic bucketing, semantic dedup regions, IVF training).
  *
  * Deterministic throughout: seed centroids are the k smallest vec_ids
  * (in production, a k-means|| sample), assignment is max-cosine with
  * ties to the smaller centroid id (exactly [[Similarity.ivfAssign]]),
  * and the centroid update aggregates the fixed-point vectors with
  * exact BIGINT per-dimension sums — so the updated means are
  * oracle-reproducible, unlike any float-accumulating implementation.
  *
  * Design for 100 TB: centroids broadcast (k·d longs), assignment is a
  * map-only pass over the corpus, and the update is ONE shuffle of k×d
  * partial sums per partition (posexplode feeds a groupBy(centroid, dim)
  * whose partial aggregation collapses each partition to at most k·d
  * rows before the exchange). Iterating is a driver-side loop over this
  * same plan with the new centroids re-broadcast.
  */
object KMeans {

  /** One centroid-update step: per-(centroid, dimension) member count
    * and fixed-point mean after assigning every vector to its
    * max-cosine seed centroid (ties to the smaller centroid id, same
    * rule as [[Similarity.ivfAssign]]).
    *
    * The assignment is a max_by aggregate, not a rank window + join-back:
    * the crossJoin against the broadcast centroids emits each vector's k
    * candidates contiguously in its own partition, so partial aggregation
    * collapses them to one row BEFORE the exchange — one corpus-row
    * shuffle total, carrying the vector straight into the update, where a
    * window + join would shuffle the corpus twice more. */
  /** The assignment + per-(centroid, dim) partial-sum kernel k1 and
    * s29 share: (n_members, sum_f) is a MERGEABLE partial state —
    * partials from disjoint corpus slices add, which s29 proves
    * through the oracle. */
  private def assignPartials(fixed: DataFrame, cents: DataFrame): DataFrame =
    fixed.select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("fa"), col("centroid_id"),
        Similarity.cosExpr.as("cos"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("fa")),
        struct(col("cos"), (-col("centroid_id")).as("tie"))).as("pick"))
      .select(col("pick.centroid_id").as("centroid_id"),
        posexplode(col("pick.fa")).as(Seq("dim", "v")))
      .groupBy("centroid_id", "dim")
      .agg(count(lit(1)).as("n_members"), sum(col("v")).as("sum_f"))

  private def seedCents(fixed: DataFrame, k: Int): DataFrame =
    fixed.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))

  def kmeansStep(vecs: DataFrame, k: Int): DataFrame = {
    val fixed = Similarity.withFixed(vecs)
    assignPartials(fixed, seedCents(fixed, k))
      .select(col("centroid_id"), col("dim"), col("n_members"),
        pround(col("sum_f").cast("double") / col("n_members").cast("double"), 4)
          .as("mean_fp"))
  }

  /** s29: mergeable-state proof for the Lloyd step — the corpus splits
    * by vec_id parity, each half computes its (centroid, dim) partial
    * (n, Σf) against the SAME global seed centroids, and the halves
    * merge by adding partials. The ORACLE computes the step directly
    * over the full corpus, so the driver compare proves
    * merge(partials) == full recompute — q46's read, for the vector
    * path (this is exactly how a multi-day / multi-cluster k-means
    * accumulates without re-scanning history). */
  def kmeansMergeProof(vecs: DataFrame, k: Int): DataFrame = {
    val fixed = Similarity.withFixed(vecs)
    val cents = seedCents(fixed, k)
    assignPartials(fixed.where(col("vec_id") % 2 === 0), cents)
      .unionByName(
        assignPartials(fixed.where(col("vec_id") % 2 === 1), cents))
      .groupBy("centroid_id", "dim")
      .agg(sum("n_members").as("n_members"), sum("sum_f").as("sum_f"))
      .select(col("centroid_id"), col("dim"), col("n_members"),
        col("sum_f"),
        pround(col("sum_f").cast("double") / col("n_members").cast("double"), 4)
          .as("mean_fp"))
      .orderBy("centroid_id", "dim")
  }

  /** k2: convergence census — how far did each centroid MOVE in the k1
    * step? ‖mean − seed‖₂ per centroid is the quantity a Lloyd loop
    * monitors to decide it has converged (stop when the max shift drops
    * below tolerance), and the cluster-health signal (a still-racing
    * centroid after N iterations marks an unstable region).
    *
    * Scale shape: no second corpus pass — the shift is a |k·d|-row join
    * between k1's update table and the posexploded seed centroids
    * (broadcast), reduced to k rows. Per-dim squared gaps are 4-dp
    * quantized and decimal-summed (order-free), the root is one shared
    * IEEE op, and units are converted back from fixed-point to original
    * float axes. */
  def kmeansShift(vecs: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(38, 4)
    val seeds = Similarity.withFixed(vecs).orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"),
        posexplode(col("f")).as(Seq("dim", "seed_v")))
    kmeansStep(vecs, k)
      .join(broadcast(seeds), Seq("centroid_id", "dim"))
      .groupBy("centroid_id")
      .agg(max("n_members").as("n_members"),
        sum(pround((col("mean_fp") - col("seed_v")) *
          (col("mean_fp") - col("seed_v")), 4).cast(dec)).as("ss"))
      .select(col("centroid_id"), col("n_members"),
        pround(sqrt(col("ss").cast("double")) / 100000.0, 9).as("shift"))
      .orderBy("centroid_id")
  }

  /** k3: within-cluster inertia (Σ‖x − c‖²) per seed centroid — the
    * elbow-curve / cluster-compactness number a k sweep reads. With the
    * cosine-max assignment against SEED centroids, every distance is
    * EXACT integer arithmetic: ‖x − c‖² = x·x + c·c − 2·x·c over the
    * fixed-point vectors (no mean, no float accumulation anywhere), so
    * the per-cluster sums are order-free DECIMAL integers and the only
    * division is the final unit conversion.
    *
    * Scale shape: same one-shuffle max_by skeleton as k1 — the
    * broadcast candidate pass already carries every x·c dot product, so
    * inertia costs NOTHING beyond k1's plan: pick the argmax candidate,
    * sum its distance. Output is k rows. */
  def kmeansInertia(vecs: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(38, 0)
    val fixed = Similarity.withFixed(vecs)
    val cents = fixed.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    fixed.select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        Similarity.cosExpr.as("cos"),
        (col("na") + col("nb") -
          lit(2L) * fpDot(col("fa"), col("fb"))).as("d2"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("d2")),
        struct(col("cos"), (-col("centroid_id")).as("tie"))).as("pick"))
      .groupBy(col("pick.centroid_id").as("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("pick.d2").cast(dec)).as("ss"))
      .select(col("centroid_id"), col("n_members"),
        pround(col("ss").cast("double") / 10000000000.0, 6).as("inertia"))
      .orderBy("centroid_id")
  }

  /** k5: simplified silhouette per cluster (Hruschka et al.'s centroid
    * variant of Rousseeuw's silhouette) — the clustering-quality census
    * the full silhouette can't give you at scale: the exact version
    * needs all-pairs distances (quadratic, dead at 100 TB), the
    * simplified one scores each vector against the ≤k CENTROIDS only:
    * a = ‖x − c_own‖, b = min over other centroids ‖x − c_j‖,
    * s = (b − a)/max(a, b) ∈ [−1, 1]. Assignment is the repo's k1/
    * ivfAssign convention (max cosine, ties to the smaller centroid id)
    * and the silhouette is measured in EUCLIDEAN distance — so s < 0
    * precisely marks vectors whose cosine assignment disagrees with
    * euclidean proximity (norm outliers), the cluster-health signal
    * next to k3's inertia.
    *
    * Determinism: d² is exact fixed-point BIGINT (x·x + c·c − 2x·c),
    * sqrt is IEEE-correctly-rounded in both engines, and the per-vector
    * s quantizes to micro-units BEFORE the mean (integer sums — the g16
    * order-free-mean discipline). A vector equidistant to its two
    * nearest centroids at distance 0 (duplicate centroids) guards to
    * s = 0 via the max(a,b) = 0 case.
    *
    * Scale shape: one map-only pass against the broadcast ≤k centroids;
    * the only corpus exchange is the vec_id window whose partitions are
    * k-bounded (the audited a2/a4 class); the census is a combinable
    * |clusters|-row rollup. */
  def simplifiedSilhouette(vecs: DataFrame, k: Int): DataFrame = {
    val fixed = Similarity.withFixed(vecs)
    val cents = fixed.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val scored = fixed.select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        Similarity.cosExpr.as("cos"),
        (col("na") + col("nb") -
          lit(2L) * fpDot(col("fa"), col("fb"))).as("d2"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("centroid_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .groupBy("vec_id")
      .agg(min(when(col("rn") === 1, col("centroid_id"))).as("cluster"),
        min(when(col("rn") === 1, col("d2"))).as("a2"),
        min(when(col("rn") =!= 1, col("d2"))).as("b2"))
      .select(col("cluster"),
        expr("cast(floor((" + silhouetteExpr + ") * 1000000.0 + 0.5) as bigint)")
          .as("micro_s"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        pround(sum("micro_s").cast("double") / (count(lit(1)) * lit(1000000.0))
          .cast("double"), 6).as("mean_silhouette"),
        pround(min("micro_s").cast("double") / 1000000.0, 6).as("min_silhouette"),
        sum(when(col("micro_s") < 0, 1L).otherwise(0L)).as("n_negative"))
      .orderBy("cluster")
  }

  // Simplified-silhouette tree over the two exact squared distances,
  // shared verbatim with the k5 oracle: s = (b − a)/max(a, b) on IEEE
  // sqrt of exact integers; coincident nearest centroids (max = 0) -> 0.
  private[operators] val silhouetteExpr =
    "(case when greatest(sqrt(cast(a2 as double)), sqrt(cast(b2 as double))) = 0.0 " +
      "then 0.0 else " +
      "(sqrt(cast(b2 as double)) - sqrt(cast(a2 as double))) " +
      "/ greatest(sqrt(cast(a2 as double)), sqrt(cast(b2 as double))) end)"

  /** k4: maximin (farthest-point-first) seeding — the deterministic
    * k-means++ stand-in: seed 1 is vec 0, each next seed is the vector
    * maximizing its minimum exact squared distance to the chosen set
    * (‖x−s‖² = x·x + s·s − 2x·s over the fixed-point integers — no
    * floats anywhere, ties to the smaller vec_id).
    *
    * Scale shape: k−1 driver-side rounds (k is small and bounded, the
    * same loop discipline as Lloyd iteration); each round is one
    * map-only pass against the ≤k-row broadcast seed set, a combinable
    * min-per-vector reduce, and a 1-row struct-max argmax — no window,
    * no collect, nothing corpus-sized on the driver. */
  def maximinSeeds(vecs: DataFrame, k: Int = 4): DataFrame = {
    val fixed = Similarity.withFixed(vecs)
      .select(col("vec_id"), col("f"), col("nrm"))
    val dist = col("na") + col("nb") - lit(2) * fpDot(col("fa"), col("fb"))
    // r19: the seed set is Materialize'd per round (the dedupClusters
    // iteration-frame discipline). The lazy chain re-evaluated every
    // prior round inside each new round's plan — round r's subtree held
    // TWO copies of round r-1's (the crossJoin and the anti-join), so
    // the k=4 plan carried 106 parquet scans and 13 nested-loop joins
    // where the operator's contract is k-1 map-only corpus passes
    // against a <= k-row broadcast seed table. Storing the tiny seed
    // frame each round makes every broadcast read stored rows: exactly
    // 2 corpus passes per round (min-dist pass + the 1-row seed
    // lookup), linear lineage, identical values.
    var seeds = Materialize.frame(fixed.where(col("vec_id") === 0)
      .select(col("vec_id"), col("f"), col("nrm"),
        lit(1L).as("seed_rank"), lit(0L).as("maximin_dist")))
    for (r <- 2 to k) {
      // anti-join out the chosen ids: with exact duplicates in the
      // corpus every distance can be 0, and without the exclusion the
      // argmax tiebreak could re-pick a seed (caught by the spec)
      val mind = fixed
        .select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
        .crossJoin(broadcast(
          seeds.select(col("f").as("fb"), col("nrm").as("nb"))))
        .select(col("vec_id"), dist.as("dist"))
        .groupBy("vec_id").agg(min("dist").as("mind"))
        .join(broadcast(seeds.select("vec_id")), Seq("vec_id"), "left_anti")
      val pick = mind
        .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("vec_id"),
          col("m.mind").as("maximin_dist"))
      seeds = Materialize.frame(seeds.union(
        pick.join(fixed, Seq("vec_id"))
          .select(col("vec_id"), col("f"), col("nrm"),
            lit(r.toLong).as("seed_rank"), col("maximin_dist"))))
    }
    seeds.select(col("seed_rank"), col("vec_id"), col("maximin_dist"))
      .orderBy("seed_rank")
  }
}

object KMeansQueries {
  import KMeans._

  val qs: Seq[Q] = Seq(
    Q("k1_kmeans_step",
      (s, d) => kmeansStep(Tables.embeddings(s, d), 6).orderBy("centroid_id", "dim"),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, n.f AS vf, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, vf, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |a AS (SELECT centroid_id, vf FROM r WHERE rn = 1),
              |ex AS (
              |  SELECT centroid_id, i AS dim, vf[i + 1] AS v
              |  FROM a, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(vf))
              |SELECT centroid_id, dim, count(*) AS n_members,
              |       floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
              |             / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_fp
              |FROM ex GROUP BY centroid_id, dim
              |ORDER BY centroid_id, dim""".stripMargin),
      doc = "one deterministic Lloyd step: broadcast-centroid assignment + " +
        "exact fixed-point centroid update (k x d partial-sum shuffle)"),

    Q("k2_kmeans_shift",
      (s, d) => kmeansShift(Tables.embeddings(s, d), 6),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, n.f AS vf, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, vf, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |a AS (SELECT centroid_id, vf FROM r WHERE rn = 1),
              |ex AS (
              |  SELECT centroid_id, i AS dim, vf[i + 1] AS v
              |  FROM a, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(vf)),
              |up AS (
              |  SELECT centroid_id, dim, count(*) AS n_members,
              |         floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
              |               / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_fp
              |  FROM ex GROUP BY centroid_id, dim),
              |sd AS (
              |  SELECT c.centroid_id, i AS dim, c.f[i + 1] AS seed_v
              |  FROM cents c, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(c.f)),
              |g AS (
              |  SELECT up.centroid_id, up.n_members,
              |         CAST(floor((mean_fp - seed_v) * (mean_fp - seed_v)
              |                    * 10000.0 + 0.5) / 10000.0
              |              AS DECIMAL(38,4)) AS q
              |  FROM up JOIN sd ON sd.centroid_id = up.centroid_id
              |                 AND sd.dim = up.dim)
              |SELECT centroid_id, max(n_members) AS n_members,
              |       floor(sqrt(CAST(sum(q) AS DOUBLE)) / 100000.0
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS shift
              |FROM g GROUP BY centroid_id ORDER BY centroid_id""".stripMargin),
      doc = "k-means convergence census: per-centroid L2 shift of the k1 " +
        "update vs its seed — a |k*d|-row broadcast join, 4-dp-quantized " +
        "decimal-summed squared gaps, no second corpus pass"),

    Q("k3_inertia",
      (s, d) => kmeansInertia(Tables.embeddings(s, d), 6),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos,
              |         n.nrm + c.nrm
              |           - 2 * CAST(list_sum(list_transform(range(1, len(n.f) + 1),
              |                 i -> n.f[i] * c.f[i])) AS BIGINT) AS d2
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id, d2,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p)
              |SELECT centroid_id, count(*) AS n_members,
              |       floor(CAST(sum(CAST(d2 AS HUGEINT)) AS DOUBLE)
              |             / 10000000000.0 * 1000000.0 + 0.5) / 1000000.0
              |         AS inertia
              |FROM r WHERE rn = 1
              |GROUP BY centroid_id ORDER BY centroid_id""".stripMargin),
      doc = "within-cluster inertia per seed centroid (elbow-curve " +
        "number): exact integer ||x-c||^2 = x.x + c.c - 2 x.c reusing " +
        "k1's one-shuffle max_by skeleton, order-free DECIMAL sums"),

    Q("k4_maximin_seeds", {
      // exact squared distance between row-sets v and p (f/nrm columns)
      def dSql(v: String, p: String) =
        s"$v.nrm + $p.nrm - 2 * CAST(list_sum(list_transform(" +
          s"range(1, len($v.f) + 1), i -> $v.f[i] * $p.f[i])) AS BIGINT)"
      (s: SparkSession, d: String) => maximinSeeds(Tables.embeddings(s, d))
    },
      Some {
        def dSql(v: String, p: String) =
          s"$v.nrm + $p.nrm - 2 * CAST(list_sum(list_transform(" +
            s"range(1, len($v.f) + 1), i -> $v.f[i] * $p.f[i])) AS BIGINT)"
        s"""WITH ${graft.operators.SimilarityQueries.fixedSqlCte},
           |s1 AS (SELECT vec_id, f, nrm FROM n WHERE vec_id = 0),
           |m1 AS (SELECT n.vec_id, n.f, n.nrm, ${dSql("n", "s1")} AS mind
           |       FROM n, s1),
           |p2 AS (SELECT vec_id, f, nrm, mind FROM m1
           |       WHERE vec_id NOT IN (SELECT vec_id FROM s1)
           |       ORDER BY mind DESC, vec_id LIMIT 1),
           |m2 AS (SELECT m1.vec_id, m1.f, m1.nrm,
           |              least(m1.mind, ${dSql("m1", "p2")}) AS mind
           |       FROM m1, p2),
           |p3 AS (SELECT vec_id, f, nrm, mind FROM m2
           |       WHERE vec_id NOT IN (SELECT vec_id FROM s1
           |                            UNION ALL SELECT vec_id FROM p2)
           |       ORDER BY mind DESC, vec_id LIMIT 1),
           |m3 AS (SELECT m2.vec_id, m2.f, m2.nrm,
           |              least(m2.mind, ${dSql("m2", "p3")}) AS mind
           |       FROM m2, p3),
           |p4 AS (SELECT vec_id, mind FROM m3
           |       WHERE vec_id NOT IN (SELECT vec_id FROM s1
           |                            UNION ALL SELECT vec_id FROM p2
           |                            UNION ALL SELECT vec_id FROM p3)
           |       ORDER BY mind DESC, vec_id LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS seed_rank, vec_id,
           |       CAST(0 AS BIGINT) AS maximin_dist FROM s1
           |UNION ALL SELECT 2, vec_id, CAST(mind AS BIGINT) FROM p2
           |UNION ALL SELECT 3, vec_id, CAST(mind AS BIGINT) FROM p3
           |UNION ALL SELECT 4, vec_id, CAST(mind AS BIGINT) FROM p4
           |ORDER BY seed_rank""".stripMargin
      },
      doc = "maximin farthest-point seeding (deterministic k-means++ " +
        "stand-in): k-1 driver rounds, each a map-only pass vs the " +
        "broadcast seed set + combinable min-reduce + 1-row argmax; " +
        "exact integer distances, smaller-vec_id tiebreak"),

    Q("s29_kmeans_merge",
      (s, d) => kmeansMergeProof(Tables.embeddings(s, d), 6),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, n.f AS vf, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, vf, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |a AS (SELECT centroid_id, vf FROM r WHERE rn = 1),
              |ex AS (
              |  SELECT centroid_id, i AS dim, vf[i + 1] AS v
              |  FROM a, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(vf))
              |SELECT centroid_id, dim, count(*) AS n_members,
              |       CAST(sum(v) AS BIGINT) AS sum_f,
              |       floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
              |             / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_fp
              |FROM ex GROUP BY centroid_id, dim
              |ORDER BY centroid_id, dim""".stripMargin),
      doc = "Lloyd-step mergeable-state proof (q46's read for the " +
        "vector path): parity halves each compute (n, sum) partials " +
        "against the SAME global seeds and merge by adding; the oracle " +
        "recomputes directly over the full corpus, so the compare IS " +
        "the merge-equals-recompute proof"),

    Q("k5_silhouette",
      (s, d) => simplifiedSilhouette(Tables.embeddings(s, d), 6),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos,
              |         n.nrm + c.nrm
              |           - 2 * CAST(list_sum(list_transform(range(1, len(n.f) + 1),
              |                 i -> n.f[i] * c.f[i])) AS BIGINT) AS d2
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id, d2,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |ab AS (
              |  SELECT vec_id,
              |         min(CASE WHEN rn = 1 THEN centroid_id END) AS cluster,
              |         min(CASE WHEN rn = 1 THEN d2 END) AS a2,
              |         min(CASE WHEN rn <> 1 THEN d2 END) AS b2
              |  FROM r GROUP BY 1),
              |sv AS (SELECT cluster,
              |              CAST(floor(($silhouetteExpr) * 1000000.0 + 0.5) AS BIGINT) AS micro_s
              |       FROM ab)
              |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
              |       floor(CAST(sum(micro_s) AS DOUBLE) / (count(*) * 1000000.0)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_silhouette,
              |       floor(CAST(min(micro_s) AS DOUBLE) / 1000000.0
              |             * 1000000.0 + 0.5) / 1000000.0 AS min_silhouette,
              |       CAST(sum(CASE WHEN micro_s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
              |FROM sv GROUP BY 1 ORDER BY cluster""".stripMargin),
      doc = "k5 simplified silhouette per cluster (centroid variant — the " +
        "all-pairs exact silhouette is quadratic and dead at scale): " +
        "s = (b-a)/max(a,b) on IEEE sqrt of exact integer d^2 against " +
        "the <=k broadcast centroids, k1's max-cosine assignment, " +
        "micro-quantized order-free means; n_negative counts vectors " +
        "whose cosine assignment disagrees with euclidean proximity; " +
        "one map-only pass + one k-bounded vec_id window + " +
        "|clusters|-row rollup"),
  )
}
