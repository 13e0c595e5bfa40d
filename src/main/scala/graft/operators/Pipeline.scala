package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Parity.pround
import graft.plans.Md5Long56.md5Long56

/** End-to-end training-data pipeline composition — the proof that the
  * operator library COMPOSES: one declarative plan that deduplicates,
  * quality-filters, splits, and summarizes a corpus, exactly the chain a
  * data-curation job runs nightly:
  *
  *   normalize → exact-dedup survivors → quality bar (token count) ∧
  *   repetition bar (Gopher-style TTR + top-bigram, as in t8) ∧
  *   OOV bar (corpus-top-k vocabulary coverage, as in t9) →
  *   deterministic train/val/test split → per-(split, lang) census.
  *
  * Everything stays in ONE lazy plan: Catalyst sees the whole chain, so
  * the tokenizer runs once per UNIQUE normalized text (after the dedup
  * groupBy — duplicates never pay for metrics), the token stream has a
  * single Generate feeding both the vocabulary build and the OOV join,
  * and filters sink as far down as semantics allow. At 100 TB each
  * stage is the already-audited operator shape (hash groupBy dedup,
  * array-arithmetic metrics in the scan stage, two-level map-side-
  * combinable top-bigram aggregate, broadcast vocab join, reduced final
  * aggregate) — composing them adds no new shuffle class beyond the
  * dedup, the metric joins on doc_id, and the census.
  */
object Pipeline {


  /** Per-survivor metric rows: one row per unique normalized text that
    * passes every bar, carrying the metrics the bars were judged on.
    * Split out from [[curate]] so tests (and users) can audit WHAT was
    * kept, not just the census counts. Thresholds: minTtr/maxTopBigram
    * default to t8's Gopher cut; maxOov bounds the t9-style OOV rate
    * against the corpus's own top-`vocabK` vocabulary.
    *
    * `materialize` (default true): persist the tokenized survivor frame
    * while the metric branches consume it (the y4 viaSharedScan
    * discipline). The frame feeds THREE consumers since the r13 rewire —
    * the unigram Generate, the bigram Generate, and the final metric
    * join — and Spark's exchange reuse does not dedup a post-aggregation
    * projection across that fan-out, so the lazy plan re-tokenizes every
    * survivor per consumer (at warehouse scale the survivor table is a
    * persisted intermediate anyway). EAGER when true: constructing the
    * DataFrame runs the normalize/dedup/tokenize job and the upstream
    * plan collapses to a stored-rows scan — pass materialize = false
    * for plan audits/dumps of the full lazy core.
    *
    * Why the bars are explode+aggregate branches and NOT per-doc array
    * arithmetic (`aggregate`/`filter` lambdas over toks): measured in
    * round 8, the lambda version ran 6× SLOWER (1.8 s → 11.2 s at
    * sf0.1) — higher-order functions evaluate interpreted (no codegen),
    * and the bar expressions get duplicated into both the survivor
    * Filter and the output Project, so every doc pays the interpreted
    * fold twice. The explode branches stay inside whole-stage codegen
    * and their exchanges are reused across consumers.
    *
    * Measured at sf0.1 (r13, union-shape metrics): lazy ~1.2 s,
    * materialized ~1.1 s via the row-format block store (a columnar
    * persist() of the same frame measured ~2.3 s in r10 — the
    * array/string cache encoding costs more than the recompute it
    * saves). The materialized path is also the one whose cost stays
    * flat as consumers are added — the 100 TB contract. */
  def curateSurvivors(docs: DataFrame, minTokens: Int, vocabK: Int = 25,
                      maxOov: Double = 0.2, minTtr: Double = 0.2,
                      maxTopBigram: Double = 0.18,
                      materialize: Boolean = true): DataFrame = {
    // dedup FIRST: metrics run once per unique normalized text, over the
    // canonical (lowercased, whitespace-collapsed) token stream
    val surv = docs
      .select(col("doc_id"), col("lang"), Dedup.normText(col("text")).as("norm"))
      // min, not first: copies could disagree on lang/doc_id, and
      // first() is partition-order-dependent
      .groupBy("norm")
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
        count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("lang"), col("n_copies"),
        expr(Dedup.tokensExprOn("norm")).as("toks"))
    // TTR is pure array arithmetic — no explode, evaluated in-stage
    val base = surv.select(col("doc_id"), col("lang"), col("n_copies"),
      col("toks"),
      size(col("toks")).cast("long").as("n_toks"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    if (materialize)
      Dedup.viaSharedScan(base)(
        survivorMetrics(_, minTokens, vocabK, maxOov, minTtr, maxTopBigram))
    else
      survivorMetrics(base, minTokens, vocabK, maxOov, minTtr, maxTopBigram)
  }

  /** The lazy metric/bar chain over a tokenized survivor frame — split
    * out of [[curateSurvivors]] so its plan stays auditable while the
    * public entry persists the shared input. */
  private def survivorMetrics(base: DataFrame, minTokens: Int, vocabK: Int,
                              maxOov: Double, minTtr: Double,
                              maxTopBigram: Double): DataFrame = {
    // r13 rewire: unigrams and bigrams ride ONE combined
    // (doc_id, kind, key) stream — two codegen Generates unioned
    // (building the pairs with struct lambdas inside one transform
    // leaves whole-stage codegen; measured slower), ONE count shuffle
    // instead of the two per-branch exchanges, and ONE metrics join
    // back instead of two. Measured at sf0.1: 1.4-1.9 s → ~1.1 s
    // steady; same shuffle volume at scale, one fewer exchange + join.
    val bigramsFromToks =
      """CASE WHEN size(toks) >= 2
        | THEN transform(sequence(1, size(toks) - 1),
        |        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        | ELSE array() END""".stripMargin
    val uni = base.select(col("doc_id"), lit(0L).as("kind"),
      explode(col("toks")).as("key"))
    val big = base.select(col("doc_id"), lit(1L).as("kind"),
      explode(expr(bigramsFromToks)).as("key"))
    val cnt = uni.unionAll(big)
      .groupBy("doc_id", "kind", "key").agg(count(lit(1)).as("n"))
    // vocab: top-k total token count via TakeOrderedAndProject (never a
    // global sort), now built from the per-doc counts — an extra level
    // of partial reduction for free
    val vocab = cnt.where(col("kind") === 0L)
      .groupBy("key").agg(sum("n").as("n"))
      .orderBy(col("n").desc, col("key")).limit(vocabK)
      .select(col("key"), lit(1L).as("iv"))
    // one pass over cnt ⋈ broadcast(vocab) yields BOTH per-doc metrics:
    // the bigram mode and the OOV instance count
    val metrics = cnt.join(broadcast(vocab), Seq("key"), "left")
      .groupBy("doc_id")
      .agg(max(when(col("kind") === 1L, col("n"))).as("max_bg"),
        sum(when(col("kind") === 0L && col("iv").isNull, col("n"))
          .otherwise(0L)).as("n_oov"))
    base
      .join(metrics, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_copies"), col("n_toks"),
        pround(when(col("n_toks") > 0,
          col("n_distinct").cast("double") / col("n_toks").cast("double"))
          .otherwise(0.0), 6).as("ttr"),
        pround(coalesce(col("max_bg"), lit(0L)).cast("double") /
          greatest(col("n_toks") - 1, lit(1L)).cast("double"), 6)
          .as("top_bigram_frac"),
        pround(coalesce(col("n_oov"), lit(0L)).cast("double") /
          greatest(col("n_toks"), lit(1L)).cast("double"), 6)
          .as("oov_ratio"))
      .where(col("n_toks") >= minTokens &&
        col("ttr") >= minTtr && col("top_bigram_frac") <= maxTopBigram &&
        col("oov_ratio") <= maxOov)
  }

  /** The full curation chain over `docs`: survivors of every bar,
    * hash-split deterministically, reduced to the per-(split, lang)
    * census with token budgets. EAGER by default (see
    * [[curateSurvivors]]); pass materialize = false for plan audits. */
  def curate(docs: DataFrame, minTokens: Int, vocabK: Int = 25,
             maxOov: Double = 0.2, minTtr: Double = 0.2,
             maxTopBigram: Double = 0.18,
             materialize: Boolean = true): DataFrame =
    curateSurvivors(docs, minTokens, vocabK, maxOov, minTtr, maxTopBigram,
        materialize)
      .withColumn("split",
        when(md5Long56(expr("cast(doc_id as string)")) % 10 < 8, lit("train"))
          .when(md5Long56(expr("cast(doc_id as string)")) % 10 === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tok_sum"),
        sum(col("n_copies") - 1L).as("dups_removed"))
}

object MultiModalPipeline {

  /** e3: joint text+embedding curation — a document survives only if it
    * clears the TEXT bar (t2 token-count floor) AND the EMBEDDING bar
    * (g10 semantic-dedup keep on its vector; `vec_id` is the document's
    * id, the testdata tables are generated 1:1). This is the shape real
    * curation runs take: modality filters computed independently on
    * whatever cluster layout suits each (token metrics in the text
    * scan, cosine pruning in centroid-bucketed vector space), then
    * intersected by document id — two inner joins on the id, no
    * cross-modal shuffle of payloads, and the census reduce at the end.
    */
  def jointCurate(docs: DataFrame, vecs: DataFrame, minTokens: Long,
                  nCents: Int, minCos: Double): DataFrame = {
    val keep = Similarity.semDedup(vecs, nCents, minCos)
      .where(col("kept") === 1)
      .select(col("vec_id").as("doc_id"))
    val textOk = TextAnalysis.qualityScore(docs)
      .where(col("n_tokens") >= minTokens)
      .select(col("doc_id"), col("n_tokens"))
    docs.select(col("doc_id"), col("lang"))
      .join(textOk, Seq("doc_id"))
      .join(keep, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"))
  }
}

object PipelineQueries {
  import Pipeline._

  private val normToksSql =
    "list_filter(string_split_regex(norm, '[ \t\n\r\f]+'), x -> x <> '')"
  private val pctSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 10"

  val qs: Seq[Q] = Seq(
    Q("e1_pipeline",
      (s, d) => curate(Tables.documents(s, d), 20).orderBy("split", "lang"),
      Some(s"""WITH n AS (
              |  SELECT doc_id, lang,
              |         lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm
              |  FROM documents),
              |surv AS (
              |  SELECT min(doc_id) AS doc_id, min(lang) AS lang, norm,
              |         count(*) AS n_copies
              |  FROM n GROUP BY norm),
              |t AS (
              |  SELECT doc_id, lang, n_copies, $normToksSql AS t FROM surv),
              |arr AS (
              |  SELECT doc_id, lang, n_copies, t,
              |         CAST(len(t) AS BIGINT) AS n_toks,
              |         floor((CASE WHEN len(t) > 0
              |                THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
              |                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS ttr
              |  FROM t),
              |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |         ELSE CAST([] AS VARCHAR[]) END) AS bg FROM t),
              |mbg AS (SELECT doc_id, max(n) AS max_bg FROM
              |          (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg)
              |        GROUP BY doc_id),
              |tok AS (SELECT doc_id, unnest(t) AS w FROM t),
              |vocab AS (SELECT w FROM
              |            (SELECT w, count(*) AS n FROM tok GROUP BY w)
              |          ORDER BY n DESC, w LIMIT 25),
              |oov AS (SELECT doc_id,
              |               CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
              |        FROM tok LEFT JOIN vocab ON tok.w = vocab.w
              |        GROUP BY doc_id),
              |m AS (
              |  SELECT arr.doc_id, lang, n_copies, n_toks, ttr,
              |         floor(CAST(coalesce(max_bg, 0) AS DOUBLE) /
              |               CAST(greatest(n_toks - 1, 1) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac,
              |         floor(CAST(coalesce(n_oov, 0) AS DOUBLE) /
              |               CAST(greatest(n_toks, 1) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0 AS oov_ratio
              |  FROM arr LEFT JOIN mbg ON arr.doc_id = mbg.doc_id
              |           LEFT JOIN oov ON arr.doc_id = oov.doc_id),
              |q AS (SELECT * FROM m
              |      WHERE n_toks >= 20 AND ttr >= 0.2
              |        AND top_bigram_frac <= 0.18 AND oov_ratio <= 0.2),
              |sp AS (
              |  SELECT CASE WHEN $pctSql < 8 THEN 'train'
              |              WHEN $pctSql = 8 THEN 'val'
              |              ELSE 'test' END AS split,
              |         lang, n_toks, n_copies
              |  FROM q)
              |SELECT split, lang, count(*) AS n_docs,
              |       CAST(sum(n_toks) AS BIGINT) AS tok_sum,
              |       CAST(sum(n_copies - 1) AS BIGINT) AS dups_removed
              |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin),
      doc = "end-to-end curation pipeline: normalize -> dedup survivors " +
        "-> quality bar AND Gopher repetition bar (t8) AND OOV bar (t9) " +
        "-> hash split -> per-split census. EAGER: the tokenized " +
        "survivor frame is persisted while its consumers run " +
        "(viaSharedScan); unigram+bigram metrics ride one combined " +
        "(doc_id, kind, key) count since r13 — pass materialize = " +
        "false for the lazy auditable core"),

    Q("e3_joint_curation",
      (s, d) => MultiModalPipeline.jointCurate(
          Tables.documents(s, d), Tables.embeddings(s, d), 30, 6, 0.40)
        .orderBy("lang"),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${SimilarityQueries.pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |asg AS (
              |  SELECT r.vec_id, r.centroid_id, n.f, n.nrm
              |  FROM r JOIN n ON n.vec_id = r.vec_id WHERE rn = 1),
              |pr AS (
              |  SELECT a.vec_id AS ia, b.vec_id AS ib,
              |         ${SimilarityQueries.pairCosSql("a", "b")} AS cos
              |  FROM asg a JOIN asg b
              |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
              |drp AS (SELECT DISTINCT ib AS vec_id FROM pr WHERE cos >= 0.40),
              |keep AS (
              |  SELECT asg.vec_id AS doc_id FROM asg
              |  LEFT JOIN drp ON asg.vec_id = drp.vec_id
              |  WHERE drp.vec_id IS NULL),
              |${TextAnalysisQueries.statsSqlCte},
              |ok AS (SELECT doc_id, n_tokens FROM st WHERE n_tokens >= 30)
              |SELECT d.lang, count(*) AS n_docs,
              |       CAST(sum(ok.n_tokens) AS BIGINT) AS tok_sum
              |FROM documents d
              |JOIN ok ON ok.doc_id = d.doc_id
              |JOIN keep ON keep.doc_id = d.doc_id
              |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
      doc = "e3 joint text+embedding curation: t2 token floor AND g10 " +
        "semantic-dedup keep, intersected by document id (vec_id is the " +
        "doc's 1:1 embedding) -> per-lang census"),

    Q("e4_dedup_quality",
      (s, d) => {
        // Does dedup IMPROVE the corpus? The audit every dedup deploy
        // needs: g2c's full-band near-dup rule (a doc is dropped when it
        // shares ALL 4 minhash bands with an earlier doc — the g13
        // incremental convention) vs t2's quality score, composed from
        // the same kernels as the standalone queries so the answer
        // can't drift from them. Shape: the dropped-id set is a
        // distinct projection of the banded candidate join (bounded by
        // real dup density), LEFT-joined onto the per-doc quality
        // table on doc_id, then a 2-row rollup with DECIMAL-exact
        // means (the a14 discipline).
        import graft.functions.Parity
        val q = TextAnalysis.qualityScore(Tables.documents(s, d))
          .select(col("doc_id"), col("quality"), col("n_tokens"))
        val dropped = Dedup.nearDupsFromSig(
            DedupQueries.sharedSignatures(s, d), 4,
            capTab = Some(DedupQueries.sharedBucketCap(s, d)))
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("dr", lit(1L))
        q.join(dropped, Seq("doc_id"), "left")
          .select(when(col("dr").isNull, 1L).otherwise(0L).as("kept"),
            col("quality"), col("n_tokens"))
          .groupBy("kept")
          .agg(count(lit(1)).as("n_docs"),
            pround(Parity.exactAvg(col("quality")), 6).as("mean_quality"),
            pround(Parity.exactAvg(col("n_tokens").cast("double")), 6)
              .as("mean_tokens"))
          .orderBy("kept")
      },
      Some {
        val avgQ = graft.functions.Parity.exactAvgSql("quality")
        val avgT = graft.functions.Parity.exactAvgSql("CAST(n_tokens AS DOUBLE)")
        s"""WITH ${DedupQueries.shinglesSqlCte},
           |hh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 14))::BIGINT AS h FROM sh),
           |bb AS (SELECT doc_id, h, unnest(range(0, 4)) AS band FROM hh),
           |sig AS (
           |  SELECT doc_id, band,
           |         min(${Dedup.affinePermSqlDuck("band", "h")}) AS minh
           |  FROM bb GROUP BY doc_id, band),
           |dropped AS (
           |  SELECT DISTINCT b.doc_id
           |  FROM sig a JOIN sig b
           |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 4),
           |${TextAnalysisQueries.statsSqlCte},
           |q AS (SELECT doc_id, n_tokens,
           |             ${TextAnalysisQueries.qualitySqlExpr} AS quality
           |      FROM st),
           |j AS (
           |  SELECT CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS kept,
           |         q.quality, q.n_tokens
           |  FROM q LEFT JOIN dropped dr ON q.doc_id = dr.doc_id)
           |SELECT CAST(kept AS BIGINT) AS kept, count(*) AS n_docs,
           |       floor(($avgQ) * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
           |       floor(($avgT) * 1000000.0 + 0.5) / 1000000.0 AS mean_tokens
           |FROM j GROUP BY kept ORDER BY kept""".stripMargin
      },
      doc = "dedup-quality audit (e-series composition): full-band " +
        "near-dup drops (g2c/g13 rule) vs t2's quality — same kernels " +
        "as the standalone queries, doc_id-keyed join, 2-row rollup " +
        "with DECIMAL-exact means"),

    Q("e5_yield_funnel",
      (s, d) => {
        // The curation yield funnel: docs and token mass surviving each
        // cumulative stage raw -> exact dedup (g1 rule) -> full-band
        // near-dup (g2c/g13 rule) -> Gopher quality (t19 rules). THE
        // capacity-planning artifact of a data pipeline ("how much
        // corpus survives to pretraining?"), composed from the SAME
        // kernels as the standalone queries so the funnel can't drift
        // from them. Per-doc stage flags land in one doc_id-keyed
        // frame; the funnel is ONE combinable aggregate + a
        // zero-shuffle stack unpivot to 4 rows.
        val docs = Tables.documents(s, d)
        val flags = TextAnalysis.gopherFlags(docs)
          .select(col("doc_id"), col("n_tokens"),
            (col("p_len") && col("p_wlen") && col("p_stop") &&
              col("p_alpha")).as("pq"))
        val exactKept = Dedup.exactDedup(docs)
          .select(col("doc_id")).withColumn("ke", lit(1L))
        val nearDropped = Dedup.nearDupsFromSig(
            DedupQueries.sharedSignatures(s, d), 4,
            capTab = Some(DedupQueries.sharedBucketCap(s, d)))
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("nd", lit(1L))
        flags.join(exactKept, Seq("doc_id"), "left")
          .join(nearDropped, Seq("doc_id"), "left")
          .select(col("n_tokens"),
            col("ke").isNotNull.as("s2"),
            (col("ke").isNotNull && col("nd").isNull).as("s3"),
            (col("ke").isNotNull && col("nd").isNull && col("pq")).as("s4"))
          .agg(count(lit(1)).as("d1"), sum("n_tokens").as("t1"),
            sum(when(col("s2"), 1L).otherwise(0L)).as("d2"),
            sum(when(col("s2"), col("n_tokens")).otherwise(0L)).as("t2"),
            sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
            sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"),
            sum(when(col("s4"), 1L).otherwise(0L)).as("d4"),
            sum(when(col("s4"), col("n_tokens")).otherwise(0L)).as("t4"))
          .select(expr("stack(4, '1_raw', d1, t1, '2_exact', d2, t2, " +
            "'3_neardup', d3, t3, '4_quality', d4, t4) " +
            "as (stage, n_docs, n_tokens)"))
          .orderBy("stage")
      },
      Some {
        val stopSql = TextAnalysis.Stopwords
          .map(w => s"'$w'").mkString("(", ", ", ")")
        s"""WITH ${DedupQueries.shinglesSqlCte},
           |hh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 14))::BIGINT AS h FROM sh),
           |bb AS (SELECT doc_id, h, unnest(range(0, 4)) AS band FROM hh),
           |sig AS (
           |  SELECT doc_id, band,
           |         min(${Dedup.affinePermSqlDuck("band", "h")}) AS minh
           |  FROM bb GROUP BY doc_id, band),
           |nd AS (
           |  SELECT DISTINCT b.doc_id
           |  FROM sig a JOIN sig b
           |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 4),
           |ke AS (
           |  SELECT min(doc_id) AS doc_id
           |  FROM (SELECT doc_id,
           |               lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm
           |        FROM documents)
           |  GROUP BY norm),
           |fl0 AS (SELECT doc_id,
           |               list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
           |                           x -> x <> '') AS toks
           |        FROM documents),
           |fl AS (SELECT doc_id,
           |              CAST(len(toks) AS BIGINT) AS n_tokens,
           |              CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_wlen,
           |              CAST(len(list_filter(toks, x -> x IN $stopSql)) AS BIGINT) AS n_stop,
           |              CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-zA-Z]+$$'))) AS BIGINT) AS n_alpha
           |       FROM fl0),
           |per AS (
           |  SELECT fl.n_tokens,
           |         (ke.doc_id IS NOT NULL) AS s2,
           |         (ke.doc_id IS NOT NULL AND nd.doc_id IS NULL) AS s3,
           |         (ke.doc_id IS NOT NULL AND nd.doc_id IS NULL
           |          AND fl.n_tokens >= 50 AND fl.n_tokens <= 100000
           |          AND CAST(sum_wlen AS DOUBLE) / CAST(fl.n_tokens AS DOUBLE) >= 3.0
           |          AND CAST(sum_wlen AS DOUBLE) / CAST(fl.n_tokens AS DOUBLE) <= 10.0
           |          AND CAST(n_stop AS DOUBLE) / CAST(fl.n_tokens AS DOUBLE) >= 0.06
           |          AND CAST(n_alpha AS DOUBLE) / CAST(fl.n_tokens AS DOUBLE) >= 0.8) AS s4
           |  FROM fl
           |  LEFT JOIN ke ON ke.doc_id = fl.doc_id
           |  LEFT JOIN nd ON nd.doc_id = fl.doc_id),
           |ag AS (
           |  SELECT CAST(count(*) AS BIGINT) AS d1,
           |         CAST(sum(n_tokens) AS BIGINT) AS t1,
           |         CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           |         CAST(sum(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
           |         CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
           |         CAST(sum(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
           |         CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
           |         CAST(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
           |  FROM per)
           |SELECT stage, n_docs, n_tokens FROM (
           |  SELECT '1_raw' AS stage, d1 AS n_docs, t1 AS n_tokens FROM ag
           |  UNION ALL SELECT '2_exact', d2, t2 FROM ag
           |  UNION ALL SELECT '3_neardup', d3, t3 FROM ag
           |  UNION ALL SELECT '4_quality', d4, t4 FROM ag)
           |ORDER BY stage""".stripMargin
      },
      doc = "curation yield funnel raw -> exact dedup -> full-band " +
        "near-dup -> Gopher quality: per-doc stage flags from the SAME " +
        "g1/g2c/t19 kernels, one combinable aggregate, stack unpivot " +
        "to 4 cumulative rows — the 'how much survives to pretraining' " +
        "capacity artifact"),
  )
}
