package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.functions.Parity
import graft.functions.Parity.pround
import graft.plans.GopherStats.gopherStats
import graft.plans.Md5Long56.md5Long56

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.G
  * [EXT]): language ID, quality scoring, token counting, fingerprinting,
  * TF-IDF.
  *
  * All are per-document projections or two-level aggregations — they
  * partition on doc_id / word and never materialize anything driver-side,
  * so the same plans run unchanged over a 100 TB corpus. Ratios divide
  * exact longs (deterministic doubles); ln() results are pround-ed before
  * comparison/ordering so last-ulp libm differences can't flip ranks.
  */
object TextAnalysis {

  import Dedup.tokensExpr // SQL-parsed tokenizer (escape caveat documented there)

  /** Tiny English stopword list used by the n-gram language heuristic.
    * Canonical list lives with the native gopher_stats expression (one
    * source of truth for the codegen kernel, the HOF forms, and the
    * oracle SQL it is interpolated into). */
  val Stopwords: Seq[String] = graft.plans.GopherStats.Stopwords

  /** Per-doc token stats: total tokens, stopword hits, char sum. */
  private def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      explode(expr(tokensExpr)).as("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("w").isin(Stopwords: _*), 1L).otherwise(0L)).as("n_stop"),
        sum(length(col("w"))).as("sum_wlen"),
        first(col("lang")).as("lang"),
        first(col("n_chars")).as("n_chars"))

  /** Language-ID heuristic: stopword-ratio threshold → 'en' vs 'other'. */
  def langId(docs: DataFrame, threshold: Double = 0.05): DataFrame =
    tokenStats(docs).select(col("doc_id"),
      (col("n_stop").cast("double") / col("n_tokens").cast("double"))
        .as("stop_ratio"),
      col("lang"))
      .select(col("doc_id"), pround(col("stop_ratio"), 6).as("stop_ratio"),
        when(col("stop_ratio") >= threshold, lit("en")).otherwise(lit("other"))
          .as("pred_lang"),
        (col("lang") === "en").cast("int").as("is_en"))

  /** t13: the evaluation every classifier ships with — the confusion
    * census of the t1 language-ID heuristic against the corpus's
    * ground-truth lang column, as (true binary class, predicted) cell
    * counts plus the per-cell share of its true class (recall on the
    * diagonal). Pure reduce over t1's output: at 100 TB the matrix is
    * |classes|² rows however big the corpus is, the single groupBy
    * partial-aggregates map-side, and the per-class share is a window
    * over those few rows. */
  def langIdConfusion(docs: DataFrame, threshold: Double = 0.05): DataFrame = {
    val cells = langId(docs, threshold)
      .select(when(col("is_en") === 1, "en").otherwise("other").as("true_lang"),
        col("pred_lang"))
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val perClass = Window.partitionBy("true_lang")
    cells.select(col("true_lang"), col("pred_lang"), col("n"),
      pround(col("n").cast("double") /
        sum(col("n")).over(perClass).cast("double"), 6).as("class_share"))
  }

  /** Quality scoring: length, mean word length, stopword ratio →
    * composite score (deterministic integer-ratio arithmetic). */
  def qualityScore(docs: DataFrame): DataFrame =
    tokenStats(docs).select(
      col("doc_id"), col("n_tokens"),
      pround(col("sum_wlen").cast("double") / col("n_tokens").cast("double"), 4)
        .as("avg_wlen"),
      pround(col("n_stop").cast("double") / col("n_tokens").cast("double"), 4)
        .as("stop_ratio"),
      pround(
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens").cast("double")) * 0.5,
        4).as("quality"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr(s"size($tokensExpr)").cast("long").as("ws_tokens"),
      expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .cast("long").as("bpe_tokens"))

  /** Document fingerprint: md5 of the normalized text (16-hex prefix). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      substring(md5(lower(trim(
        regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")))), 1, 16)
        .as("fp"))

  /** Top-k terms per language by corpus frequency — the per-group top-k
    * shape: word-count shuffle, then a SALTED two-phase rank over the
    * reduced (lang, word) counts so a language with a huge vocabulary
    * never serializes into one sort task (each word lives in exactly one
    * salt bucket, so the global top-k is contained in the union of
    * per-salt top-ks — identical results, 64× narrower sorts). */
  def topTermsPerLang(docs: DataFrame, k: Int, salts: Int = 64): DataFrame = {
    val pre = Window
      .partitionBy(col("lang"), abs(hash(col("w"))) % salts)
      .orderBy(col("n").desc, col("w"))
    val fin = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
    docs.select(col("lang"), explode(expr(tokensExpr)).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      .withColumn("pr", row_number().over(pre))
      .where(col("pr") <= k)
      .withColumn("rank", row_number().over(fin))
      .where(col("rank") <= k)
      .select(col("lang"), col("rank"), col("w").as("term"), col("n"))
  }

  /** Repetition metrics per document (the Gopher-style repetition
    * filters of Rae et al. 2021 §A1.1, token flavor):
    *   - type-token ratio: distinct tokens / tokens (low = repetitive);
    *   - duplicate-trigram fraction: 1 − distinct 3-grams / 3-grams;
    *   - top-bigram fraction: occurrences of the most frequent bigram /
    *     bigram slots.
    * TTR and the trigram fraction are pure ARRAY arithmetic — no explode,
    * no shuffle, evaluated in the scan stage. Only the top-bigram mode
    * needs an explode + two-level aggregate (count per (doc, bigram),
    * max per doc), both map-side combinable; the join back is on doc_id.
    * `keep` applies the usual cut (ttr >= 0.2, top bigram <= 0.18). */
  def repetitionScore(docs: DataFrame): DataFrame = {
    val bigramsFromToks =
      """CASE WHEN size(toks) >= 2
        | THEN transform(sequence(1, size(toks) - 1),
        |        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        | ELSE array() END""".stripMargin
    val base = docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
    val arrStats = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
      greatest(size(col("toks")) - 2, lit(0)).cast("long").as("n_tri"),
      size(array_distinct(expr(
        """CASE WHEN size(toks) >= 3
          | THEN transform(sequence(1, size(toks) - 2),
          |        i -> concat_ws(' ', element_at(toks, i),
          |                            element_at(toks, i + 1),
          |                            element_at(toks, i + 2)))
          | ELSE array() END""".stripMargin))).cast("long").as("n_tri_distinct"))
    val topBg = base
      .select(col("doc_id"), explode(expr(bigramsFromToks)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(col("n")).as("max_bg"))
    arrStats.join(topBg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        pround(when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(0.0), 6).as("ttr"),
        pround(when(col("n_tri") > 0,
          lit(1.0) - col("n_tri_distinct").cast("double") / col("n_tri").cast("double"))
          .otherwise(0.0), 6).as("dup_trigram_frac"),
        pround(coalesce(col("max_bg"), lit(0L)).cast("double") /
          greatest(col("n_tokens") - 1, lit(1L)).cast("double"), 6)
          .as("top_bigram_frac"))
      .withColumn("keep",
        (col("ttr") >= 0.2 && col("top_bigram_frac") <= 0.18).cast("long"))
  }

  /** Engine-portable PII patterns (t14). Kept to constructs Java regex
    * and RE2 (the DuckDB oracle) evaluate identically: character
    * classes, bounded repetition, \b, \d, leftmost-first alternation —
    * no backreferences or lookaround (RE2 has neither). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** t14: PII detection + scrub census — per doc, how many email / IPv4 /
    * SSN-shaped spans the text contains and the length after replacing
    * every span with a fixed redaction token. This is the redaction pass
    * every training-data pipeline runs before anything leaves the raw
    * zone; counts-first (not just scrubbed text) because the census is
    * what drives source-level triage.
    *
    * Scale shape: pure scan-stage projection — regexp_count/replace are
    * codegen'd row-local expressions, no shuffle, no UDF. At 100 TB this
    * is embarrassingly parallel and bounded by scan throughput. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val combined = s"$EmailRe|$Ipv4Re|$SsnRe"
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_email"),
      regexp_count(col("text"), lit(Ipv4Re)).as("n_ipv4"),
      regexp_count(col("text"), lit(SsnRe)).as("n_ssn"),
      length(regexp_replace(col("text"), combined, "<PII>"))
        .as("scrubbed_len"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-k
    * vocabulary — the tokenizer-coverage measurement a training pipeline
    * runs before committing to a vocab size. Phase 1 reduces the corpus
    * to (word, count) and takes the k most frequent (TakeOrderedAndProject
    * — never a global sort); phase 2 broadcasts that tiny vocab and
    * left-joins the token stream against it, so the per-doc aggregate is
    * one map-side-combinable pass with no extra shuffle of the corpus. */
  def oovRate(docs: DataFrame, vocabK: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(vocabK)
      .select(col("w"), lit(1L).as("iv"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        pround(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_ratio"))
  }

  /** t10: Zipf slope of the corpus rank–frequency law, fit by weighted
    * least squares over FREQUENCY LEVELS with tie-midpoint ranks.
    *
    * Per-type ranks would need either a global vocabulary sort (the
    * q15 scale-killer shape) or a per-tie window whose hapax partition
    * holds most of the vocabulary (skew). Instead: group types by
    * frequency — the level table is tiny (O(√N) distinct counts under
    * Zipf) — running-sum it for each level's rank base, give every type
    * in a level the tie-midpoint rank base+(cnt+1)/2 (the Spearman
    * mid-rank convention), and fit ln(freq) = a + s·ln(midrank)
    * weighted by level size. Everything after the token count runs on
    * the level table; the only unpartitioned Window is over those few
    * rows, which is exactly where a global window is legitimate. */
  def zipfFit(docs: DataFrame): DataFrame = {
    val freq = docs.select(explode(expr(tokensExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val levels = freq.groupBy("f").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xy = levels
      .withColumn("base", sum(col("cnt")).over(w) - col("cnt"))
      .select(col("cnt").cast("double").as("wt"),
        (col("f") * col("cnt")).as("tk"),
        log(col("base").cast("double") +
          (col("cnt").cast("double") + 1.0) / 2.0).as("x"),
        log(col("f").cast("double")).as("y"))
    xy.agg(
        sum(col("wt")).as("sw"), sum(col("tk")).as("stk"),
        count(lit(1)).as("n_levels"),
        sum(col("wt") * col("x")).as("sx"),
        sum(col("wt") * col("y")).as("sy"),
        sum(col("wt") * col("x") * col("x")).as("sxx"),
        sum(col("wt") * col("x") * col("y")).as("sxy"))
      .select(
        col("sw").cast("long").as("n_types"),
        col("stk").cast("long").as("n_tokens"),
        // a single frequency level has zero rank variance: the slope is
        // mathematically undefined, and the raw 0/0 is ulp-noise, not
        // NaN — make the undefinedness explicit as null
        when(col("n_levels") > 1,
          pround((col("sxy") - col("sx") * col("sy") / col("sw")) /
            (col("sxx") - col("sx") * col("sx") / col("sw")), 6))
          .as("zipf_slope"))
  }

  /** t11: per-doc corpus surprisal — mean -ln p(w) of the doc's tokens
    * under the corpus's own unigram distribution, the LM-free version
    * of perplexity-based quality scoring (low = stereotyped boilerplate,
    * high = rare-token soup; both tails are curation targets).
    *
    * Numeric parity: per-word -ln p is quantized to MICRO-NATS (a
    * bigint) BEFORE the per-doc sum, so the aggregation is an exact
    * integer sum — order-independent, hence engine-identical — where a
    * double sum would drift in the last ulp with partition order (the
    * same fixed-point trick as the cosine kernels). The word-probability
    * table is vocabulary-sized and joins the token stream by word: at
    * 100 TB that's a plain hash join on the shuffle key the token count
    * already produced, with partial aggregation on both sides. */
  def surprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
    val n = toks.select(count(lit(1)).as("n_total"))
    val lp = toks.groupBy("w").agg(count(lit(1)).as("f"))
      .crossJoin(broadcast(n))
      .select(col("w"),
        expr("cast(floor(-ln(cast(f as double) / cast(n_total as double)) * 1000000.0) as bigint)")
          .as("lp_micro"))
    toks.join(lp, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        pround(col("s").cast("double") / 1000000.0 /
          col("n_tokens").cast("double"), 6).as("mean_surprisal"))
  }

  /** t16: per-doc interpolated bigram surprisal — mean
    * -ln(λ·p(w2|w1) + (1-λ)·p(w2)) over the doc's adjacent token
    * pairs, the bigram upgrade of t11's unigram signal: it catches
    * word-salad documents whose tokens are individually common but
    * whose TRANSITIONS are improbable (t11 scores those as ordinary).
    * Jelinek-Mercer interpolation with the corpus unigram keeps every
    * event's probability positive without held-out tuning.
    *
    * Scale shape: the model tables are corpus-REDUCED before any event
    * join — the distinct-bigram counts, their first-word context sums,
    * and the unigram table are all vocabulary-scaled, and the bigram
    * event stream joins them on the same keys the counting shuffle
    * already produced (plain hash joins, partial agg on both sides).
    * Adjacency comes from a per-row array transform (no window, no
    * posexplode shuffle): each doc's token array emits its own
    * "w1 w2" pair strings map-side — tokens cannot contain whitespace,
    * so the space join is collision-free.
    *
    * Numeric parity: the interpolated probability is ONE double
    * expression evaluated identically in both engines, quantized to
    * micro-nats BEFORE the per-doc sum (t11's fixed-point discipline)
    * so aggregation order cannot shift the result. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("fw"))
    // r19: n_total = Σ fw over the unigram table — the pre-r19 shape ran
    // a SECOND tokenize+explode pass over the corpus just to count
    // tokens; summing the already-reduced vocabulary table is the same
    // exact integer and shares uni's one exchange.
    val n = uni.agg(coalesce(sum("fw"), lit(0L)).as("n_total"))
    val ev = docs.select(col("doc_id"), expr(tokensExpr).as("t"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(t) >= 2
          | THEN transform(sequence(1, size(t) - 1),
          |        i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          | ELSE array() END""".stripMargin)).as("bg"))
    val fbg = ev.groupBy("bg").agg(count(lit(1)).as("fbg"))
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
    val ctx = fbg.groupBy(col("w1").as("cw")).agg(sum(col("fbg")).as("c1"))
    val scored = fbg.join(ctx, col("w1") === col("cw"))
      .join(uni.withColumnRenamed("w", "uw"), col("w2") === col("uw"))
      .crossJoin(broadcast(n))
      .select(col("bg"), expr(
        """cast(floor(-ln(0.75 * (cast(fbg as double) / cast(c1 as double))
          |             + 0.25 * (cast(fw as double) / cast(n_total as double)))
          |        * 1000000.0) as bigint)""".stripMargin).as("nll_micro"))
    ev.join(scored, Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_micro")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        pround(col("s").cast("double") / 1000000.0 /
          col("n_bigrams").cast("double"), 6).as("mean_bigram_surprisal"))
  }

  /** t17: per-doc Shannon entropy of the document's OWN token
    * distribution — the scale-free repetitiveness signal: boilerplate
    * and template pages score low however long they are, while t8's
    * repetition ratio only sees the single most-repeated type. Uses
    * the identity H = ln n − (Σ c·ln c)/n so the whole thing is two
    * reduces and ZERO joins: one groupBy (doc_id, token) for the
    * within-doc counts (map-side partial agg takes the token stream
    * down to per-doc vocabularies before the shuffle), one groupBy
    * doc_id combining n, the type count, and the Σ c·ln c sum in the
    * same pass.
    *
    * Numeric parity: each c·ln c term is micro-nat floor-quantized
    * from exact integer counts BEFORE the per-doc sum (t11's
    * discipline), so aggregation order cannot shift the result; the
    * final H is one double expression over exact integers, identical
    * in both engines. Zero-token docs vanish from the token stream and
    * are absent from the output (matching the oracle's unnest). */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("cast(floor(cast(c as double) * ln(cast(c as double)) * 1000000.0) as bigint)"))
          .as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        pround(
          log(col("n_tokens").cast("double")) -
            col("s").cast("double") / 1000000.0 / col("n_tokens").cast("double"),
          6).as("entropy_nats"))

  /** t12: the statistics step of BPE vocabulary induction — counts of
    * adjacent character pairs, weighted by word frequency. Standard BPE
    * trainers run on the DISTINCT-word frequency table, not the raw
    * corpus: the merge loop then touches vocab-sized data per
    * iteration, which is exactly the scale property this plan keeps —
    * the token stream reduces to (word, freq) first (the same shuffle
    * the token count already pays), the pair explode fans out only the
    * vocabulary, and the top-k is TakeOrderedAndProject. The argmax
    * row of this table IS the next BPE merge. */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val wf = docs.select(explode(expr(tokensExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.select(col("f"), explode(expr(
        """CASE WHEN length(w) >= 2
          | THEN transform(sequence(1, length(w) - 1),
          |        i -> substring(w, i, 2))
          | ELSE array() END""".stripMargin)).as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }

  /** Symbol-sequence delimiter for the BPE merge loop (U+001F unit
    * separator — below every printable char, so ordering the joined
    * pair string equals ordering the (lhs, rhs) tuple). A word's
    * current segmentation is one string `s1s2...`;
    * the greedy merge is then a single left-to-right string fold. */
  private[operators] val BpeSep = "\u001f"

  /** t42: the full iterative BPE merge loop (Sennrich et al. ACL'16) —
    * what t12 computes the FIRST step of. Each round: (1) count
    * frequency-weighted adjacent symbol pairs over the current
    * segmentation of the distinct-word table, (2) pick the argmax pair
    * (ties: lexicographic on (lhs, rhs)), (3) apply it greedily
    * leftmost-non-overlapping to every word. The applied fold is
    * `aggregate(syms, SEP, ...)` over the SEP-encoded segmentation:
    * merge when the accumulator's last symbol is lhs and the next is
    * rhs — exact greedy semantics incl. the lhs==rhs run case
    * ([a,a,a] -> [aa,a], never [a,aa]), because a just-merged last
    * symbol (lhs||rhs) can never string-equal lhs again.
    *
    * Scale shape: the training state is VOCAB-sized (distinct words),
    * never corpus-sized — the token stream reduces to (word, freq)
    * once, then each of the k rounds is one vocab-table scan (pair
    * explode fans out ~word-length per row), one partial-agg'd pair
    * count, a 1-row TakeOrdered winner broadcast back, and a codegen'd
    * per-row fold. Each round's state and winner are Materialize'd
    * (the dedupClusters iteration-frame discipline) so round k+1 reads
    * stored rows instead of re-deriving k rounds of lineage. At 100 TB
    * the (word, freq) reduce is the only corpus-touching stage. */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame = {
    val S = BpeSep
    val wf = docs.select(explode(expr(tokensExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    var state = wf.select(col("f"),
      concat(lit(S),
        array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"), S),
        lit(S)).as("enc"))
    var merges = Vector.empty[DataFrame]
    for (round <- 1 to rounds) {
      val syms = Materialize.frame(state).select(col("f"),
        expr(s"filter(split(enc, '$S'), s -> s != '')").as("syms"))
      val pairs = syms.where(size(col("syms")) >= 2)
        .select(col("f"), explode(expr(
          s"""transform(sequence(1, size(syms) - 1),
             |  j -> concat(element_at(syms, j), '$S', element_at(syms, j + 1)))""".stripMargin))
          .as("pr"))
      val counts = pairs.groupBy("pr").agg(sum(col("f")).as("n"))
        .select(expr(s"split_part(pr, '$S', 1)").as("lhs"),
          expr(s"split_part(pr, '$S', 2)").as("rhs"), col("n"))
      val winner = Materialize.frame(
        counts.orderBy(col("n").desc, col("lhs"), col("rhs")).limit(1))
      merges :+= winner.withColumn("merge_round", lit(round))
      if (round < rounds)
        state = syms.crossJoin(broadcast(winner.select("lhs", "rhs")))
          .select(col("f"), expr(
            s"""aggregate(syms, '$S', (acc, x) ->
               |  CASE WHEN x = rhs AND endswith(acc, concat('$S', lhs, '$S'))
               |  THEN concat(substring(acc, 1, length(acc) - length(lhs) - 1), lhs, rhs, '$S')
               |  ELSE concat(acc, x, '$S') END)""".stripMargin).as("enc"))
    }
    merges.reduce(_ union _)
      .select(col("merge_round"), col("lhs"), col("rhs"), col("n").as("pair_n"))
      .orderBy("merge_round")
  }

  /** TF-IDF: top-k terms per doc by tf·ln(N/df), pround-ed so ordering is
    * engine-stable; ties broken by word. */
  def tfidfTop(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(df_, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        pround(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
    val win = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rn", row_number().over(win))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("rn").as("rank"), col("w").as("term"),
        col("tfidf"))
  }

  /** t20: BM25 retrieval scoring (Robertson/Walker, Okapi at TREC-3) for
    * a fixed query-term set — the ranking function behind search-based
    * corpus curation ("pull the documents most about X"). Per matched
    * term: idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the
    * +1-smoothed idf ln(1 + (N−df+0.5)/(df+0.5)); per doc: the sum over
    * its matched terms. k1 = 1.2, b = 0.75 (the standard defaults),
    * inlined as the SAME literals in both engines.
    *
    * Scale shape: ONE tokenize pass feeds both the per-doc length and
    * the postings; the term filter is a pushed-down literal IN-list, so
    * the only (doc, term) rows that ever shuffle are postings of the
    * |terms|-bounded query set; df reduces those postings; the corpus
    * stats (N, Σdl) are one combinable aggregate broadcast back. The
    * final top-k is orderBy+limit — TakeOrderedAndProject, no global
    * sort. Per-term contributions are rounded then summed as DECIMAL,
    * so the per-doc score is addition-order-independent (a raw double
    * sum over join output would vary with partitioning). */
  def bm25TopDocs(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val base = docs.select(col("doc_id"), expr(tokensExpr).as("t"))
      .select(col("doc_id"), expr("cast(size(t) as bigint)").as("dl"), col("t"))
    val g = base.agg(sum("dl").as("sl"), count(lit(1)).as("nd"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("t")).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val contrib =
      """ln(1.0 + (cast(nd as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5))
        | * (cast(tf as double) * 2.2)
        | / (cast(tf as double) + 1.2 * (1.0 - 0.75 + 0.75 * cast(dl as double) / (cast(sl as double) / cast(nd as double))))"""
        .stripMargin.replace("\n", "")
    val scored = tf.join(broadcast(df_), "w").crossJoin(broadcast(g))
      .select(col("doc_id"),
        pround(expr(contrib), 9).cast(DecimalType(28, 9)).as("contrib"))
      .groupBy("doc_id")
      .agg(pround(sum("contrib").cast("double"), 6).as("bm25"))
    val win = Window.orderBy(col("bm25").desc, col("doc_id"))
    scored.orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(win))
      .select(col("doc_id"), col("rank"), col("bm25"))
  }

  /** t21: DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23): score every
    * document by how much more likely its hashed-bigram profile is under
    * a target domain (here: one source treated as the quality domain)
    * than under the raw corpus — log w(x) = Σ_g c_x(g)·ln(p_t(g)/p_r(g)),
    * with add-one smoothing over the hashed feature space. Resampling by
    * these weights is the modern pretraining-mix selection step.
    *
    * The hashed n-gram trick IS the scale story: the feature space is
    * `buckets` cells regardless of corpus vocabulary, so both "language
    * models" are one bounded table built in a single combinable count
    * pass (the target count is a conditional sum in the SAME pass — the
    * corpus is not re-scanned), broadcast to the per-doc scorer. Per-doc
    * scoring is explode → (doc, bucket) counts → broadcast join →
    * combinable sum of decimal-rounded contributions
    * (addition-order-independent, the t18 discipline). */
  def dsirWeights(docs: DataFrame, targetSource: String,
                  buckets: Int = 4096): DataFrame = {
    val bigramsFromToks =
      """CASE WHEN size(toks) >= 2
        | THEN transform(sequence(1, size(toks) - 1),
        |        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        | ELSE array() END""".stripMargin
    val bg = docs.select(col("doc_id"), col("source"),
      expr(tokensExpr).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(expr(bigramsFromToks)).as("g"))
      .select(col("doc_id"), col("source"),
        (md5Long56(col("g")) % buckets).as("b"))
    val lm = bg.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"))
    val tot = lm.agg(sum("cr").cast("long").as("tr"),
      sum("ct").cast("long").as("tt"))
    val ratio =
      s"""ln(((cast(ct as double) + 1.0) / (cast(tt as double) + $buckets.0))
         | / ((cast(cr as double) + 1.0) / (cast(tr as double) + $buckets.0)))"""
        .stripMargin.replace("\n", "")
    bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(lm), "b")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("c"),
        pround(col("c").cast("double") * expr(ratio), 9)
          .cast(DecimalType(28, 9)).as("contrib"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        pround(sum("contrib").cast("double"), 6).as("log_weight"))
  }

  /** t22: n-gram novelty curve — per document (in doc_id order), the
    * fraction of its distinct bigrams appearing for the FIRST time in
    * the corpus. The curve is how you measure marginal-content decay in
    * a crawl and pick a dedup/stop point: late documents with near-zero
    * novelty are re-crawls in disguise (Lee et al.'s dedup papers use
    * exactly this diagnostic).
    *
    * Scale shape: explode → distinct (doc, bigram) is the only
    * corpus-sized state; first-appearance is a combinable min over the
    * bigram-keyed index, and the join back is 1:1 on the SAME bigram
    * key (partitioning reused, no skew amplification — a hot bigram
    * has one index row). Final per-doc reduce is combinable. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val bigramsFromToks =
      """CASE WHEN size(toks) >= 2
        | THEN transform(sequence(1, size(toks) - 1),
        |        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
        | ELSE array() END""".stripMargin
    val bg = docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
      .select(col("doc_id"), explode(expr(bigramsFromToks)).as("g"))
      .distinct()
    val first = bg.groupBy("g").agg(min("doc_id").as("first_doc"))
    bg.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigram_types"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_bigram_types"), col("n_novel"),
        pround(col("n_novel").cast("double") /
          col("n_bigram_types").cast("double"), 6).as("novelty_rate"))
  }

  /** t15: winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03). Over each document's positional 3-shingle hash sequence,
    * slide a window of `w` consecutive hashes and keep the RIGHTMOST
    * minimal hash per window (the paper's robust-winnowing tie rule);
    * the fingerprint set is the distinct selected (position, hash) pairs.
    * Guarantee: any shared token run long enough to contain w consecutive
    * shingles (w + 2 tokens) contributes at least one common fingerprint;
    * expected density 2/(w+1). Documents with fewer than w shingles keep
    * the minimum over all their shingles, so no non-empty doc goes
    * unfingerprinted.
    *
    * Scale shape: per-doc window functions over the shingle sequence —
    * ONE doc_id shuffle+sort, no joins, no pairwise work. Downstream,
    * fingerprints feed the same inverted-index candidate discipline as
    * g4/y4 (join docs sharing a fingerprint), at ~2/(w+1) of the full
    * shingle index's size. The rightmost-min is a single struct-min over
    * the frame: min(struct(h, -pos)) picks the smallest hash and, among
    * ties, the largest position — one window aggregate, both engines. */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    val sh = Dedup.shinglePosRows(docs)
      .select(col("doc_id"), col("pos"),
        md5Long56(col("sh")).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val doc = Window.partitionBy("doc_id")
    sh.select(col("doc_id"), col("pos"),
        count(lit(1)).over(win).as("cnt"),
        min(struct(col("h"), (-col("pos")).as("np"))).over(win).as("sel"),
        count(lit(1)).over(doc).as("n_sh"))
      .where(col("cnt") === w || (col("pos") === 1 && col("n_sh") < w))
      .select(col("doc_id"), (-col("sel.np")).as("fp_pos"),
        col("sel.h").as("fp"))
      .distinct()
  }

  /** y9: winnow-fingerprint candidate pairs — the MOSS shape: two
    * documents are near-dup candidates when they share a SELECTED
    * fingerprint, with the shared-fingerprint count as match evidence.
    * Same inverted-index candidate discipline as g4 (df cap excludes
    * boilerplate fingerprints that would emit df² pairs), but the index
    * is the winnowed ~2/(w+1) subset instead of every shingle — the
    * practical near-dup path when full shingle indexing is too big. */
  def winnowCandidates(docs: DataFrame, w: Int = 4,
      dfCap: Option[Int] = None): DataFrame =
    candidatesFromFps(winnowFingerprints(docs, w), dfCap)

  /** [[winnowCandidates]]' inverted-index join over an existing
    * fingerprint table — the registered y9 reads the session-shared
    * winnow build ([[DedupQueries.sharedWinnowFps]]) instead of
    * re-winnowing the corpus. The fp index is density-capped by default
    * ([[Dedup.autoCapped]] — same budget rule, same ceiling). */
  private[graft] def candidatesFromFps(fps: DataFrame,
      dfCap: Option[Int] = None): DataFrame =
    candidatesFromDistinctFps(
      fps.select(col("doc_id"), col("fp")).distinct(), dfCap)

  /** [[candidatesFromFps]] over an ALREADY-DISTINCT (doc_id, fp) table —
    * the entry the bucketed winnow layout feeds (the distinct ran once,
    * at write time; re-applying it here would put an exchange back under
    * every read). */
  private[graft] def candidatesFromDistinctFps(fp: DataFrame,
      dfCap: Option[Int] = None,
      capTab: Option[DataFrame] = None): DataFrame = {
    val bounded = Dedup.autoCapped(fp, Seq("fp"), dfCap, capTab = capTab)
    bounded.as("a").join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** g27: winnow-estimated Jaccard top-k — the g4 shape with the
    * winnowed fingerprint index in place of the full shingle index:
    * score = |shared fps| / |fp-set union|, an unbiased-enough estimate
    * of shingle Jaccard at ~2/(w+1) of g4's index size (fingerprints
    * ARE shingle hashes, min-selected per window, so shared text runs
    * select shared fingerprints — the MOSS guarantee). Role at 100 TB
    * (r16 adjudication): the CHEAP ESTIMATOR and cross-check, not the
    * default dedup candidate path — the budget-matched sf10 censuses
    * read winnow pair recall 0.754 (g28) / outcome 0.579 (g30) against
    * banded LSH's 0.878 / 0.995 under the same derived per-doc budget,
    * reversing the r15 claim that was priced at mismatched caps. Same
    * derived df-cap discipline as g4. */
  private[graft] def winnowJaccardJoin(fps: DataFrame, k: Int,
      dfCap: Option[Int] = None): DataFrame =
    winnowJaccardJoinDistinct(
      fps.select(col("doc_id"), col("fp")).distinct(), k, dfCap)

  /** [[winnowJaccardJoin]] over an already-distinct (doc_id, fp) table
    * (the bucketed winnow layout — see candidatesFromDistinctFps). */
  private[graft] def winnowJaccardJoinDistinct(fp: DataFrame, k: Int,
      dfCap: Option[Int] = None,
      capTab: Option[DataFrame] = None): DataFrame = {
    val bounded = Dedup.autoCapped(fp, Seq("fp"), dfCap, capTab = capTab)
    val sizes = bounded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = bounded.as("a").join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
      .limit(k)
      .select(col("doc_a"), col("doc_b"),
        pround(col("jac"), 6).as("winnow_jaccard"))
  }

  /** Per-source unigram KL divergence vs the corpus distribution —
    * the standard domain-shift / source-quality signal in pretraining
    * data audits (which sources' token distributions deviate most from
    * the mixture).
    *
    * P_src is add-half smoothed over the CORPUS vocabulary (so words a
    * source never emits still carry mass and the sum is over a common
    * support); Q is the unsmoothed corpus distribution (every corpus
    * word has count >= 1). KL(P_src || Q) = sum_w p ln(p/q).
    *
    * Scale shape: the one pass over text is the (source, word) count —
    * map-side combinable, and materialized ONCE via the viaSharedScan
    * discipline (it has four distinct consumers — vocab counts, source
    * totals, corpus scalars, and the probe side of the grid join — and
    * one of them is a broadcast, which runtime exchange reuse cannot
    * dedup; without the shared scan the corpus would tokenize 4×). The
    * evaluation grid is |vocab| x |sources|: built by broadcasting the
    * tiny per-source totals vector onto the vocab table (linear in V,
    * no vocab shuffle), then a shuffle join back to the per-source
    * counts on (source, word). Per-word contributions are rounded to
    * fixed scale and summed as DECIMAL, so each source's KL is exact
    * and independent of partitioning/addition order.
    */
  /** t19: Gopher-style hard-rule census (Rae et al. 2021 §A1.1 flavor)
    * per source — the FILTER side of quality curation, complementing
    * t2's soft score: per-rule fail counts and the all-rules pass rate,
    * so a curation run can see which rule bites which source before
    * committing to a cut.
    *
    * Rules (token flavor, thresholds documented inline):
    *  - length: 50 <= tokens <= 100k (Gopher's word-count band);
    *  - mean word length in [3, 10];
    *  - stopword fraction >= 0.06 (natural-language signal);
    *  - alphabetic-token fraction >= 0.8 (symbol/noise screen).
    *
    * Scale shape: one pass over text (array ops per doc, no explode —
    * the per-doc stats are map-side projections), then one combinable
    * (source) reduce. Nothing bigger than |sources| rows shuffles. */
  /** The per-doc Gopher predicate flags — the ONE definition t19's
    * per-source report and t36's ablation census both aggregate, so the
    * two views of the same rules cannot drift. */
  private[graft] def gopherFlags(docs: DataFrame): DataFrame = {
    // r20 (VERDICT r19 item 1): the four per-doc token folds — formerly
    // interpreted higher-order functions over a regex-split token array
    // (size / aggregate(length) / filter(array_contains) /
    // filter(rlike)) — now run as ONE native codegen byte pass,
    // graft.plans.GopherStats (spec-pinned equal to the HOF form on the
    // real corpus; see the expression's doc for the dialect note).
    val perDoc = docs
      .select(col("doc_id"), col("source"),
        gopherStats(col("text")).as("gs"))
      .select(col("doc_id"), col("source"),
        col("gs.n_tokens").as("n_tokens"),
        col("gs.sum_wlen").as("sum_wlen"),
        col("gs.n_stop").as("n_stop"),
        col("gs.n_alpha").as("n_alpha"))
    val meanW = col("sum_wlen").cast("double") / col("n_tokens").cast("double")
    val stopF = col("n_stop").cast("double") / col("n_tokens").cast("double")
    val alphaF = col("n_alpha").cast("double") / col("n_tokens").cast("double")
    perDoc
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("n_tokens") >= 50L && col("n_tokens") <= 100000L).as("p_len"),
        (meanW >= 3.0 && meanW <= 10.0).as("p_wlen"),
        (stopF >= 0.06).as("p_stop"),
        (alphaF >= 0.8).as("p_alpha"))
  }

  /** t40: Burrows' Delta between sources — the classic stylometric
    * distance (Burrows 2002): over the K globally most-frequent words,
    * z-score each source's relative frequency against the cross-source
    * distribution and take the mean absolute z gap per pair. Low Δ =
    * same "authorial fingerprint" (a crawl that duplicated one site
    * into two source labels shows up here before any content dedup).
    *
    * Determinism: frequencies are exact integer micro-frequencies
    * F = (c·1e9) div n_s (bigint division — no float ratios), the
    * per-word mean/sd trees consume exact decimal sums of F over the
    * |sources| profile, z is a fixed IEEE tree, and the pairwise Δ sum
    * quantizes each |z_a − z_b| to 12 dp and sums as DECIMAL — the g9
    * discipline, so pair order can't change the result.
    *
    * Scale shape: the (source, word) count is the one corpus-scale
    * pass (shared scan, 3 consumers); everything after lives on the
    * K×|sources| grid (completed with zeros so a word a source never
    * uses still pulls its z down) and the |sources|² pair join. */
  /** Default marker-word count for [[burrowsDelta]] — interpolated into
    * both the Scala default and the t40 oracle SQL so one edit updates
    * both. */
  val DefaultDeltaTopK = 30

  def burrowsDelta(docs: DataFrame, topK: Int = DefaultDeltaTopK): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val sw0 = docs.select(col("source"), explode(expr(tokensExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    Dedup.viaSharedScan(sw0) { sw =>
      val ns = sw.groupBy("source").agg(sum("c").as("n_s"))
      val top = sw.groupBy("w").agg(sum("c").as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(topK)
        .select(col("w"))
      val freq = ns.crossJoin(broadcast(top))
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          expr("coalesce(c, 0L) * 1000000000L div n_s").as("f"))
      val stats = freq.groupBy("w")
        .agg(sum(col("f").cast(dec0)).as("sf"),
          sum(col("f").cast(dec0) * col("f").cast(dec0)).as("sff"),
          count(lit(1)).as("sc"))
      val z = freq.join(broadcast(stats), Seq("w"))
        .select(col("source"), col("w"), expr(burrowsZExpr).as("z"))
      z.select(col("source").as("source_a"), col("w"), col("z").as("za"))
        .join(z.select(col("source").as("source_b"), col("w"),
          col("z").as("zb")), Seq("w"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(sum(expr("cast(floor(abs(za - zb) * 1000000000000.0 + 0.5) " +
          "/ 1000000000000.0 as decimal(38,12))")).as("sd12"))
        .select(col("source_a"), col("source_b"),
          pround(col("sd12").cast("double") / topK.toDouble, 6).as("delta"))
        .orderBy("source_a", "source_b")
    }
  }

  // z tree over the exact micro-frequency moments, shared with the
  // oracle; a word with zero cross-source variance contributes z = 0.
  private[operators] val burrowsZExpr =
    "(case when (cast(sc as double) * cast(sff as double) " +
      "- cast(sf as double) * cast(sf as double)) <= 0.0 then 0.0 else " +
      "(cast(f as double) - cast(sf as double) / cast(sc as double)) " +
      "/ sqrt((cast(sc as double) * cast(sff as double) " +
      "- cast(sf as double) * cast(sf as double)) " +
      "/ (cast(sc as double) * cast(sc as double))) end)"

  def gopherRules(docs: DataFrame): DataFrame =
    gopherFlags(docs)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("p_len"), 1L).otherwise(0L)).as("fail_len"),
        sum(when(!col("p_wlen"), 1L).otherwise(0L)).as("fail_wlen"),
        sum(when(!col("p_stop"), 1L).otherwise(0L)).as("fail_stop"),
        sum(when(!col("p_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(col("p_len") && col("p_wlen") && col("p_stop") &&
          col("p_alpha"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        pround(col("n_pass").cast("double") / col("n_docs").cast("double"), 6))

  /** t36: filter-ablation census over the same Gopher rules — the Venn
    * attribution t19's marginal fail counts can't show: how many docs
    * would relaxing EACH filter alone recover (docs failing only that
    * filter), and how many do multiple filters agree on dropping
    * (redundant kills — the safe-to-simplify signal)? One combinable
    * pass over the shared [[gopherFlags]] kernel to a 1-row census;
    * nothing per-doc survives the aggregate. */
  def filterAblation(docs: DataFrame): DataFrame =
    gopherFlags(docs)
      .select(col("p_len"), col("p_wlen"), col("p_stop"), col("p_alpha"),
        (when(col("p_len"), 0L).otherwise(1L) +
          when(col("p_wlen"), 0L).otherwise(1L) +
          when(col("p_stop"), 0L).otherwise(1L) +
          when(col("p_alpha"), 0L).otherwise(1L)).as("n_fail"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_fail") === 0, 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("n_fail") === 1 && !col("p_len"), 1L).otherwise(0L))
          .as("only_len"),
        sum(when(col("n_fail") === 1 && !col("p_wlen"), 1L).otherwise(0L))
          .as("only_wlen"),
        sum(when(col("n_fail") === 1 && !col("p_stop"), 1L).otherwise(0L))
          .as("only_stop"),
        sum(when(col("n_fail") === 1 && !col("p_alpha"), 1L).otherwise(0L))
          .as("only_alpha"),
        sum(when(col("n_fail") >= 2, 1L).otherwise(0L)).as("multi_fail"))

  def sourceUnigramKl(docs: DataFrame): DataFrame = {
    val swSrc = docs
      .select(col("source"), explode(expr(Dedup.tokensExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    Dedup.viaSharedScan(swSrc) { sw =>
      val cw = sw.groupBy("w").agg(sum("c").cast("long").as("cw"))
      val ns = sw.groupBy("source").agg(sum("c").cast("long").as("ns"))
      val nv = cw.agg(sum("cw").cast("long").as("n"),
        count(lit(1)).cast("long").as("v"))
      val p = (coalesce(col("c"), lit(0L)).cast("double") + lit(0.5)) /
        (col("ns").cast("double") + lit(0.5) * col("v").cast("double"))
      val q = col("cw").cast("double") / col("n").cast("double")
      cw.crossJoin(broadcast(ns.crossJoin(broadcast(nv))))
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("ns"),
          pround(p * log(p / q), 12).cast(DecimalType(38, 12)).as("contrib"))
        .groupBy(col("source"), col("ns").as("n_tokens"))
        .agg(pround(sum(col("contrib")).cast("double"), 9).as("kl_nats"))
    }
  }

  /** t23: word burstiness — the variance-to-mean ratio of a word's
    * per-document counts over the documents that contain it (Church &
    * Gale's "Poisson mixtures" statistic, CSL'95). Content words clump
    * (VMR >> 1: a doc that mentions them mentions them repeatedly);
    * function words scatter near-Poisson (VMR ≈ 1) — a topicality
    * signal TF-IDF can't see because it only looks at presence.
    *
    * Scale shape: one tokenize/explode pass reduces to (word, doc, tf)
    * — combinable; per-word exact integer moments (df, Σtf, Σtf²)
    * reduce that to |vocab| rows; VMR is one shared-text IEEE tree and
    * the output is capped by a TakeOrdered top-k, so an open vocabulary
    * never drags row-scale data through the driver or a global sort. */
  def wordBurstiness(docs: DataFrame, minDf: Long = 2,
                     topK: Int = 100): DataFrame = {
    val dec = DecimalType(38, 0)
    val wc = docs
      .select(col("doc_id"), explode(expr(Dedup.tokensExpr)).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
    wc.groupBy("w")
      .agg(count(lit(1)).as("df"),
        sum(col("c").cast(dec)).as("tot"),
        sum((col("c") * col("c")).cast(dec)).as("sxx"))
      .where(col("df") >= minDf)
      .select(col("w").as("word"), col("df"),
        col("tot").cast("long").as("total_tf"),
        pround(expr(burstVmrExpr), 9).as("vmr"))
      .orderBy(desc("vmr"), col("word"))
      .limit(topK)
  }

  // VMR = sample variance / mean over the df docs containing the word;
  // shared verbatim with the oracle (welch discipline).
  private[operators] val burstVmrExpr =
    "(((cast(sxx as double) - cast(tot as double) * cast(tot as double) / cast(df as double)) / " +
      "(cast(df as double) - 1.0)) / (cast(tot as double) / cast(df as double)))"

  /** t24: per-source hapax/vocabulary census — hapax legomena (words
    * seen exactly once) dominate natural vocabularies (~half of types,
    * Zipf's tail), so a source whose hapax share collapses is template/
    * boilerplate text and one whose share explodes is noise or OCR
    * garbage; TTR (type-token ratio) is the companion lexical-diversity
    * number. The single-number ingest screens next to t10's full Zipf
    * fit.
    *
    * Scale shape: ONE tokenize/explode pass reduces to (source, word,
    * tf) — combinable, vocab-sized — and the census is a second rollup
    * of that table to |sources| rows. Nothing else moves. */
  def hapaxCensus(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(expr(Dedup.tokensExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(sum("tf").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        pround(col("hapax").cast("double") / col("vocab").cast("double"), 9)
          .as("hapax_share"),
        pround(col("vocab").cast("double") / col("n_tokens").cast("double"), 9)
          .as("ttr"))
      .orderBy("source")

  /** t25: pairwise source-vocabulary overlap — the lexical companion to
    * g16's document-level overlap matrix: two feeds whose vocabularies
    * are near-identical are the same upstream crawl wearing different
    * names, and a mixture designer wants that redundancy surfaced at the
    * SOURCE level before weighting.
    *
    * Scale shape: the corpus reduces once to the distinct (source, word)
    * index; the intersection is a self-join on word whose per-word
    * fan-out is capped by |sources|² (sources are a bounded census
    * dimension, unlike documents — the reason this self-join is safe
    * where g4's document-level one needed prefix filtering), and sizes
    * join back as a broadcast of |sources| rows. */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    val sv = docs
      .select(col("source"), explode(expr(Dedup.tokensExpr)).as("w"))
      .distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("sz"))
    sv.as("a").join(sv.as("b"), col("a.w") === col("b.w"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        pround(col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"), 9)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** t27: discriminative keywords via log-odds ratio with a Dirichlet
    * prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") — the
    * standard "what words characterize corpus A vs corpus B" statistic:
    * raw odds ratios explode on rare words, the +α prior shrinks them,
    * and the z-scaling (dividing by the estimated standard deviation)
    * keeps frequent words from dominating on sheer count.
    *
    * Scale shape: ONE conditional count pass over the two groups' tokens
    * to the vocab-sized (word, ca, cb) table; totals are a broadcast
    * one-row aggregate, z is a shared IEEE tree over exact counts, and
    * the output is a TakeOrdered top-k on the 6-dp pround-ed z (the open
    * vocabulary never reaches the driver or a global sort). */
  def logOddsKeywords(docs: DataFrame, langA: String = "en",
                      langB: String = "de", topK: Int = 20): DataFrame = {
    val wc = docs.where(col("lang").isin(langA, langB))
      .select(col("lang"), explode(expr(Dedup.tokensExpr)).as("w"))
      .groupBy("w")
      .agg(sum(when(col("lang") === langA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("lang") === langB, 1L).otherwise(0L)).as("cb"))
    val tot = wc.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    wc.crossJoin(broadcast(tot))
      .select(col("w").as("word"), col("ca"), col("cb"),
        pround(expr(logOddsZExpr), 6).as("z"))
      .orderBy(desc("z"), col("word"))
      .limit(topK)
  }

  // Fightin'-Words z with α = 0.5 per word (A = 0.5·|vocab|); shared
  // verbatim with the oracle. ln args are strictly positive by the
  // prior, so no domain guard is needed.
  private val loA = "(cast(ca as double) + 0.5)"
  private val loB = "(cast(cb as double) + 0.5)"
  private val loDelta =
    s"(ln($loA / (cast(na as double) + 0.5 * cast(v as double) - $loA)) - " +
      s"ln($loB / (cast(nb as double) + 0.5 * cast(v as double) - $loB)))"
  private[operators] val logOddsZExpr =
    s"($loDelta / sqrt(1.0 / $loA + 1.0 / $loB))"

  /** t30: code-vs-prose detection census — the routing decision every
    * LLM data pipeline makes early (code goes to a code mixture with
    * different dedup/quality rules; prose does not). The detector is
    * the standard cheap heuristic: density of code-indicative symbols
    * ({ } ; = < > ( )) over total characters, thresholded; natural
    * prose sits well under 2%, real code well over 5%.
    *
    * Same no-explode shape as t26: two codegen'd length projections per
    * doc, one combinable rollup to |sources| rows with the flagged
    * count, total symbol mass, and share. */
  def codeDetect(docs: DataFrame, threshold: Double = 0.05): DataFrame = {
    val sym = length(col("text")) -
      length(regexp_replace(col("text"), "[{};=<>()]", ""))
    docs.select(col("source"), col("text"))
      .select(col("source"), sym.as("nsym"), length(col("text")).as("nch"))
      .where(col("nch") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nsym").cast("double") >=
          col("nch").cast("double") * threshold, 1L).otherwise(0L))
          .as("n_code"),
        sum(col("nsym")).as("sym_chars"), sum(col("nch")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_code"),
        pround(col("n_code").cast("double") / col("n_docs").cast("double"), 9)
          .as("code_share"),
        pround(col("sym_chars").cast("double") / col("n_chars").cast("double"), 9)
          .as("symbol_density"))
      .orderBy("source")
  }

  /** t29: pairwise Jensen–Shannon divergence between source unigram
    * distributions — the symmetric, bounded ([0, ln 2]) companion to
    * t18's KL-vs-corpus: KL ranks each source against the mixture, JS
    * says which PAIRS of feeds are near-clones of each other (the
    * redundancy matrix a mixture designer reads next to g16's
    * document-overlap matrix, at the distribution level).
    *
    * Zero-handling needs no smoothing: a word absent from one side
    * contributes exactly p·ln 2 (its mixture m = p/2), so JS decomposes
    * into co-occurring-word terms plus ln 2 · (uncovered mass)/2 — the
    * co-occurrence join on word has |sources|²-bounded per-word fan-out
    * and the uncovered masses come from the SAME aggregate. Per-term
    * contributions are 12-dp-quantized and decimal-summed (t18's
    * discipline); ln 2 is a shared 12-dp literal (libm parity).
    *
    * Contract: a pair sharing NO vocabulary emits no row — its JS is
    * exactly ln 2 by definition, and the inner join keeps the plan free
    * of a |sources|² dense grid that is all ceiling values. */
  def jsDivergence(docs: DataFrame): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val wc = docs
      .select(col("source"), explode(expr(Dedup.tokensExpr)).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    Dedup.viaSharedScan(wc) { sw =>
      val ns = sw.groupBy("source").agg(sum("c").cast("long").as("ns"))
      val a = sw.join(broadcast(ns), "source")
        .select(col("source").as("src_a"), col("w"),
          (col("c").cast("double") / col("ns").cast("double")).as("p"))
      val b = sw.join(broadcast(ns), "source")
        .select(col("source").as("src_b"), col("w"),
          (col("c").cast("double") / col("ns").cast("double")).as("q"))
      a.join(b, Seq("w")).where(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          pround(expr(jsCoTermExpr), 12).cast(dec12).as("contrib"),
          pround(col("p"), 12).cast(dec12).as("pm"),
          pround(col("q"), 12).cast(dec12).as("qm"))
        .groupBy("src_a", "src_b")
        .agg(sum("contrib").as("cs"), sum("pm").as("pco"),
          sum("qm").as("qco"))
        .select(col("src_a"), col("src_b"),
          pround(expr(jsTotalExpr), 9).as("js_nats"))
        .orderBy("src_a", "src_b")
    }
  }

  // Co-occurring-word JS term p·ln(p/m) + q·ln(q/m), m = (p+q)/2; and
  // the closure with the uncovered-mass ln2 terms. LN2 is a shared
  // 12-dp literal — libm ln(2.0) is not contractually identical across
  // engines, a fixed constant is.
  private[operators] val jsCoTermExpr =
    "(p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)))"
  private[operators] val jsTotalExpr =
    "(0.5 * cast(cs as double) + 0.5 * 0.693147180560 * " +
      "((1.0 - cast(pco as double)) + (1.0 - cast(qco as double))))"

  /** t28: Simpson concentration / effective source count per language —
    * the mixture-design dashboard number: HHI = Σp² says how concentrated
    * a language's feed mix is, and its reciprocal is the "effective
    * number of sources" (20 sources feeding one language through two
    * dominant feeds is effectively 2, not 20 — the diversity a mixture
    * designer actually has to work with).
    *
    * Exactness: HHI = Σc² / n² over exact integer cell counts (c² in
    * DECIMAL — a BIGINT c² wraps at warehouse cell sizes); both outputs
    * are shared IEEE trees over those integers. One (lang, source) count
    * pass, |langs|-row result. */
  def simpsonDiversity(docs: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum(col("c").cast(dec)).as("n"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("ss"),
        count(lit(1)).as("n_sources"))
      .select(col("lang"), col("n").cast("long").as("n_docs"),
        col("n_sources"),
        pround(expr(hhiExpr), 9).as("hhi"),
        pround(expr(effSourcesExpr), 6).as("effective_sources"))
      .orderBy("lang")
  }

  // Shared trees over exact integers; an empty language cannot occur
  // (groups only exist with >= 1 row) so no zero guard is needed.
  private[operators] val hhiExpr =
    "(cast(ss as double) / (cast(n as double) * cast(n as double)))"
  private[operators] val effSourcesExpr =
    "((cast(n as double) * cast(n as double)) / cast(ss as double))"

  /** t26: per-source character-class composition — the cheapest ingest
    * fingerprint there is: natural prose sits near stable alpha/space/
    * punct ratios, while base64 blobs, tables, code, and OCR noise jump
    * out as digit- or symbol-heavy sources long before any tokenizer
    * runs. (The char-level complement to t19's word-level Gopher rules.)
    *
    * Each class count is `length(text) − length(regexp_replace(text,
    * class, ''))` — exact integers, codegen'd, no explode — summed in
    * one combinable pass to |sources| rows. The oracle's regexp_replace
    * needs the 'g' flag (DuckDB replaces first-match by default; Spark
    * replaces all). */
  def charClassProfile(docs: DataFrame): DataFrame = {
    def classLen(pat: String) =
      length(col("text")) - length(regexp_replace(col("text"), pat, ""))
    docs.select(col("source"), col("text"))
      .groupBy("source")
      .agg(sum(length(col("text"))).as("n_chars"),
        sum(classLen("[A-Za-z]")).as("alpha"),
        sum(classLen("[0-9]")).as("digit"),
        sum(classLen("[ \\t\\n\\r\\f]")).as("space"))
      .select(col("source"), col("n_chars"),
        pround(col("alpha").cast("double") / col("n_chars").cast("double"), 9)
          .as("alpha_share"),
        pround(col("digit").cast("double") / col("n_chars").cast("double"), 9)
          .as("digit_share"),
        pround(col("space").cast("double") / col("n_chars").cast("double"), 9)
          .as("space_share"),
        pround((col("n_chars") - col("alpha") - col("digit") - col("space"))
          .cast("double") / col("n_chars").cast("double"), 9)
          .as("other_share"))
      .orderBy("source")
  }

  /** t31: top-k collocations by pointwise mutual information —
    * PMI(w1,w2) = ln(p(w1w2) / (p(w1)·p(w2))) with bigram probability
    * over the bigram-event total and unigram probabilities over the
    * token total, restricted to bigrams with count ≥ minCount (PMI is
    * degenerate on rare pairs: a hapax bigram of two hapax words
    * maximizes it).
    *
    * Scale shape: the bigram event stream reduces to the observed-bigram
    * table (corpus-sparse, far below vocab²) before ANY join; the two
    * unigram joins are vocab-sized shuffle joins (deliberately NOT
    * broadcast — the vocabulary of a 100 TB corpus is itself large);
    * the 1-row totals broadcast; top-k is TakeOrderedAndProject with a
    * bg tiebreak, never a global sort. Integer micro-nats (floor·1e6)
    * keep the ranking reproducible across libm variants. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L,
      k: Int = 20, materialize: Boolean = true): DataFrame = {
    // ONE tokenize+explode pass emits TAGGED unigram and bigram events
    // (kind 'u'/'b'); the last position tags a null bigram, filtered
    // before the count. The (kind, term) count table — vocab +
    // observed-bigram sized — then feeds FOUR consumers (two unigram
    // joins, the candidate filter, both totals), so it is eagerly
    // materialized (Materialize.frame, the e1/y4 discipline). The first
    // cut re-derived the corpus tokenization per consumer and went 32×
    // at 20× data in the scale sweep; this shape scans the corpus once.
    val ev = docs.select(expr(tokensExpr).as("t"))
      .select(explode(expr(
        """concat(
          |  transform(t, w -> named_struct('kind', 'u', 'term', w)),
          |  transform(t, (w, i) -> named_struct('kind', 'b', 'term',
          |    CASE WHEN i < size(t) - 1
          |      THEN concat(element_at(t, i + 1), ' ', element_at(t, i + 2))
          |      ELSE NULL END)))""".stripMargin)).as("e"))
      .select(col("e.kind").as("kind"), col("e.term").as("term"))
      .where(col("term").isNotNull)
    val counts0 = ev.groupBy("kind", "term").agg(count(lit(1)).as("cnt"))
    val counts = if (materialize) Materialize.frame(counts0) else counts0
    val uni = counts.where(col("kind") === "u")
      .select(col("term"), col("cnt").as("fw"))
    val totals = counts.agg(
      sum(when(col("kind") === "u", col("cnt")).otherwise(0L)).as("n_tok"),
      sum(when(col("kind") === "b", col("cnt")).otherwise(0L)).as("n_bg"))
    counts.where(col("kind") === "b" && col("cnt") >= minCount)
      .select(col("term").as("bg"), col("cnt").as("fbg"))
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      .join(uni.select(col("term").as("u1"), col("fw").as("f1")),
        col("w1") === col("u1"))
      .join(uni.select(col("term").as("u2"), col("fw").as("f2")),
        col("w2") === col("u2"))
      .crossJoin(broadcast(totals))
      .select(col("bg"), col("fbg"), expr(
        """cast(floor(ln((cast(fbg as double) / cast(n_bg as double))
          |  / ((cast(f1 as double) / cast(n_tok as double))
          |     * (cast(f2 as double) / cast(n_tok as double))))
          |  * 1000000.0) as bigint)""".stripMargin).as("pmi_micro"))
      .orderBy(desc("pmi_micro"), col("bg")).limit(k)
  }

  /** t33: held-out bigram perplexity per source — t16 scores documents
    * with a model trained on the SAME corpus (optimistic by
    * construction); this is the honest split: the bigram LM trains on
    * even doc_ids only and scores odd doc_ids, so memorized duplicates
    * can't flatter the number. Jelinek-Mercer λ=0.75 with an add-one
    * unigram backoff ((fw+1)/(N+V+1)) so unseen contexts and OOV words
    * score finitely.
    *
    * Scale shape: model tables (bigram/context/unigram counts) are
    * vocab-sized reductions of the train half; the test bigram stream
    * LEFT-joins them (coalesce 0 = unseen) — nothing corpus-sized is
    * ever collected, and the final rollup is |sources| rows of
    * integer micro-nat sums. */
  def heldoutPerplexity(docs: DataFrame): DataFrame = {
    val train = docs.where(col("doc_id") % 2 === 0)
    val test = docs.where(col("doc_id") % 2 === 1)
    def bigrams(d: DataFrame) = d
      .select(col("source"), expr(tokensExpr).as("t"))
      .select(col("source"), explode(expr(
        """CASE WHEN size(t) >= 2
          | THEN transform(sequence(1, size(t) - 1),
          |        i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          | ELSE array() END""".stripMargin)).as("bg"))
    val trainToks = train.select(explode(expr(tokensExpr)).as("w"))
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("fw"))
    val totals = uni.agg(sum("fw").as("n_tok"),
      count(lit(1)).as("v_size"))
    val fbg = bigrams(train).groupBy("bg").agg(count(lit(1)).as("fbg"))
    val ctx = fbg.select(expr("split_part(bg, ' ', 1)").as("cw"),
        col("fbg"))
      .groupBy("cw").agg(sum("fbg").as("c1"))
    test.transform(bigrams)
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      .join(fbg, Seq("bg"), "left")
      .join(ctx, col("w1") === col("cw"), "left")
      .join(uni.select(col("w").as("uw"), col("fw")),
        col("w2") === col("uw"), "left")
      .crossJoin(broadcast(totals))
      .select(col("source"), expr(
        """cast(floor(-ln(
          |    0.75 * (case when c1 is null or c1 = 0 then 0.0
          |            else cast(coalesce(fbg, 0) as double) / cast(c1 as double) end)
          |  + 0.25 * ((cast(coalesce(fw, 0) as double) + 1.0)
          |            / (cast(n_tok as double) + cast(v_size as double) + 1.0)))
          |  * 1000000.0) as bigint)""".stripMargin).as("nll_micro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll_micro").as("s"))
      .select(col("source"), col("n_bigrams"),
        pround(exp(col("s").cast("double") / 1000000.0 /
          col("n_bigrams").cast("double")), 4).as("heldout_ppl"))
      .orderBy("source")
  }

  /** t34: Heaps-law vocabulary growth curve — V(N) at ten corpus-prefix
    * checkpoints (by doc_id), the saturation read behind "will more data
    * still buy new vocabulary?". NO cumulative-distinct window: each
    * word reduces to its FIRST doc (vocab-sized combinable min), each
    * doc to its token count, and every checkpoint is a conditional sum
    * over those two reduced tables — one aggregate each, stacked to 10
    * rows of exact integers (engine-exact, no floats anywhere). */
  def heapsCurve(docs: DataFrame, points: Int = 10): DataFrame = {
    val bounds = docs.agg((max("doc_id") + 1).as("lim"))
    val firstDoc = docs
      .select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
      .groupBy("w").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(bounds))
    val perDoc = docs
      .select(col("doc_id"), expr(s"cast(size($tokensExpr) as long)").as("t"))
      .crossJoin(broadcast(bounds))
    def thr(i: Int) = s"(lim * $i div $points)"
    val vAggs = (1 to points).map(i =>
      sum(when(expr(s"fd < ${thr(i)}"), 1L).otherwise(0L)).as(s"v_$i"))
    val nAggs = (1 to points).map(i =>
      sum(when(expr(s"doc_id < ${thr(i)}"), col("t")).otherwise(0L))
        .as(s"n_$i"))
    val vRow = firstDoc.agg(vAggs.head, vAggs.tail: _*)
    val nRow = perDoc.agg(nAggs.head, nAggs.tail: _*)
    val stackArgs = (1 to points)
      .map(i => s"cast($i as bigint), `n_$i`, `v_$i`").mkString(", ")
    vRow.crossJoin(nRow)
      .select(expr(s"stack($points, $stackArgs)" +
        " as (decile, n_tokens, vocab_size)"))
      .orderBy("decile")
  }

  /** t32: readability census per source — the Flesch-style reading-ease
    * signal quality filters threshold on: words per sentence (sentence =
    * a [.!?]+ run, min 1 per doc) and vowel-group density per word (the
    * classic syllable proxy). Three codegen'd regexp/size projections
    * per document, NO explode; exact longs reduce per source in one
    * combinable pass and the score is one shared IEEE tree over the
    * |sources|-row table. Zero-word sources guard to null. */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        expr(s"cast(size($tokensExpr) as long)").as("nw"),
        expr("cast(greatest(regexp_count(text, '[.!?]+'), 1) as long)")
          .as("ns"),
        expr("cast(regexp_count(text, '[aeiouAEIOU]+') as long)").as("nv"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("nw"),
        sum("ns").as("ns"), sum("nv").as("nv"))
      .select(col("source"), col("n_docs"), col("nw").as("n_words"),
        pround(expr(readWps), 6).as("words_per_sentence"),
        pround(expr(readVpw), 6).as("vowel_groups_per_word"),
        pround(expr(readFlesch), 4).as("flesch_score"))
      .orderBy("source")

  /** Default per-doc lexicon-hit-rate flag threshold for
    * [[lexiconScreen]] — interpolated into both the Scala tree and the
    * t41 oracle SQL (the g23 degCap discipline). Rate is hits/tokens;
    * above the threshold the doc is flagged for exclusion/review. */
  val DefaultLexiconFlagPct = 25

  /** t41: lexicon-screen quality gate — the blocklist pass every
    * curation pipeline runs (toxicity/spam/adult word lists): per doc,
    * the fraction of tokens matching the lexicon; per source, how many
    * docs trip the flag threshold and the mean hit rate. Here lexicon
    * membership is a deterministic md5 surrogate (word-hash % 5 == 0 —
    * a stand-in "20% of the vocabulary is listed" predicate) so the
    * oracle can reproduce it; a production run swaps the predicate for
    * a broadcast semi-join against the real list (|lexicon| « corpus, so
    * the list always broadcasts — the x7 Bloom shape without the fp).
    *
    * Determinism: per-doc rate is exact integer hits/toks quantized to
    * micro-units BEFORE the mean (integer sum, order-free — the g16
    * micro-quantized-mean discipline); flags compare integers
    * (100·hits > pct·toks), never floats.
    *
    * Scale shape: one tokenize/explode pass, per-token predicate inside
    * codegen, ONE doc_id-keyed partial-combinable reduction, then a
    * |sources|-row rollup. Docs with zero tokens count as unflagged
    * with null rate (guarded). */
  def lexiconScreen(docs: DataFrame,
      flagPct: Int = DefaultLexiconFlagPct): DataFrame = {
    val per = docs
      .select(col("doc_id"), col("source"), explode(expr(tokensExpr)).as("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("toks"),
        sum(when(md5Long56(col("w")) % 5 === 0, 1L)
          .otherwise(0L)).as("hits"))
    docs.select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id", "source"), "left_outer")
      .select(col("source"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .select(col("source"), col("toks"), col("hits"),
        (col("toks") > 0 && col("hits") * 100 > col("toks") * flagPct)
          .cast("long").as("flagged"),
        when(col("toks") > 0,
          expr("cast(floor(cast(hits as double) / cast(toks as double) " +
            "* 1000000.0 + 0.5) as bigint)")).as("micro_rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("flagged").as("n_flagged"),
        sum("hits").as("lexicon_hits"),
        sum("toks").as("total_tokens"),
        // null-guarded: a source of only empty docs has no defined rate
        when(count(col("micro_rate")) > 0,
          pround(sum("micro_rate").cast("double")
            / (count(col("micro_rate")) * lit(1000000.0)).cast("double"), 9))
          .as("mean_hit_rate"))
      .orderBy("source")
  }

  // Shared IEEE trees (mirrored textually in the oracle); a source with
  // zero words has no defined density/score -> guarded null.
  private[operators] val readWps =
    "(cast(nw as double) / cast(ns as double))"
  private[operators] val readVpw =
    "(case when nw = 0 then cast(null as double) " +
      "else cast(nv as double) / cast(nw as double) end)"
  private[operators] val readFlesch =
    s"(case when nw = 0 then cast(null as double) " +
      s"else 206.835 - 1.015 * $readWps - 84.6 * ($readVpw) end)"
}

object TextAnalysisQueries {
  import TextAnalysis._
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private val toksSql = "list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')"
  private val stopSql = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Merge-round count for t42 — enough that later rounds provably
    * consume earlier products (round 6 at sf0.01 merges 'm'+'er'). */
  private[operators] val BpeMergeRounds = 8

  /** Oracle twin of [[TextAnalysis.bpeMerges]]: the k rounds unrolled as
    * CTE triples (s_i symbols, p_i pair counts, w_i argmax, v_i merged
    * state); the merge application is a `list_reduce` fold over the
    * SEP-prepended symbol list with the same accumulator rule as the
    * Spark-side `aggregate` lambda (merge when acc ends with SEP·lhs·SEP
    * and x = rhs). */
  private def bpeMergesSql(k: Int): String = {
    val S = BpeSep
    val rounds = (1 to k).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""s$i AS (SELECT f, list_filter(string_split(enc, '$S'), s -> s <> '') AS syms FROM $prev),
         |p$i AS (SELECT split_part(pr, '$S', 1) AS lhs, split_part(pr, '$S', 2) AS rhs,
         |               CAST(sum(f) AS BIGINT) AS n
         |        FROM (SELECT f, unnest(list_transform(range(1, len(syms)),
         |                     j -> syms[j] || '$S' || syms[j+1])) AS pr
         |              FROM s$i WHERE len(syms) >= 2)
         |        GROUP BY 1, 2),
         |w$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
         |v$i AS (SELECT f, list_reduce(list_prepend('$S', syms),
         |          (acc, x) -> CASE WHEN x = rhs AND ends_with(acc, '$S' || lhs || '$S')
         |                      THEN substr(acc, 1, length(acc) - length(lhs) - 1) || lhs || rhs || '$S'
         |                      ELSE acc || x || '$S' END) AS enc
         |        FROM s$i, w$i)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to k)
      .map(i => s"SELECT $i AS merge_round, lhs, rhs, n AS pair_n FROM w$i")
      .mkString("\nUNION ALL ")
    s"""WITH tok AS (SELECT unnest($toksSql) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
       |v0 AS (SELECT f, '$S' || array_to_string(list_transform(range(1, length(w) + 1),
       |             i -> substr(w, i, 1)), '$S') || '$S' AS enc FROM wf),
       |$rounds
       |$finals
       |ORDER BY merge_round""".stripMargin
  }

  /** The per-doc Gopher flag CTE chain — the oracle twin of
    * [[TextAnalysis.gopherFlags]], shared by t19 and t36 so the two
    * rule censuses cannot drift. */
  private val gopherFlagsSqlCtes =
    s"""t AS (SELECT source, $toksSql AS toks FROM documents),
       |pd AS (
       |  SELECT source,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_wlen,
       |         CAST(len(list_filter(toks, x -> x IN $stopSql)) AS BIGINT) AS n_stop,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-zA-Z]+$$'))) AS BIGINT) AS n_alpha
       |  FROM t),
       |f AS (
       |  SELECT source,
       |         (n_tokens >= 50 AND n_tokens <= 100000) AS p_len,
       |         (CAST(sum_wlen AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3.0
       |          AND CAST(sum_wlen AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 10.0) AS p_wlen,
       |         (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.06) AS p_stop,
       |         (CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.8) AS p_alpha
       |  FROM pd)""".stripMargin
  private[operators] val statsSqlCte =
    s"""tok AS (SELECT doc_id, lang, n_chars, unnest($toksSql) AS w FROM documents),
       |st AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |         sum(CASE WHEN w IN $stopSql THEN 1 ELSE 0 END) AS n_stop,
       |         sum(length(w)) AS sum_wlen,
       |         min(lang) AS lang, min(n_chars) AS n_chars
       |  FROM tok GROUP BY doc_id)""".stripMargin

  /** The t15 winnowing pipeline as a DuckDB CTE chain ending in `wfp`
    * (doc_id, fp_pos, fp) — shared between t15's, y9's and g30's oracles
    * so the fingerprint definition cannot drift between them. The
    * `On(table)` form runs the chain over an arbitrary (doc_id, text)
    * relation (g30 winnows an AUGMENTED corpus CTE). */
  private[operators] def winnowSqlCteOn(table: String): String =
    s"""wt AS (SELECT doc_id, $toksSql AS t FROM $table),
       |wsp AS (
       |  SELECT doc_id, i AS pos,
       |    ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 14))::BIGINT AS h
       |  FROM wt, unnest(CASE WHEN len(t) >= 3
       |                 THEN range(1, len(t) - 1) ELSE [] END) AS u(i)),
       |ww AS (
       |  SELECT doc_id, pos, h,
       |    count(*) OVER win AS cnt,
       |    min(struct_pack(h := h, np := -pos)) OVER win AS sel,
       |    count(*) OVER (PARTITION BY doc_id) AS n_sh
       |  FROM wsp
       |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
       |wfp AS (
       |  SELECT DISTINCT doc_id, -sel.np AS fp_pos, sel.h AS fp
       |  FROM ww WHERE cnt = 4 OR (pos = 1 AND n_sh < 4))""".stripMargin

  private[operators] val winnowSqlCte = winnowSqlCteOn("documents")

  /** The t2 quality score over the `st` CTE — shared with g11's oracle
    * so the two engines' formulas can't drift apart. */
  private[operators] val qualitySqlExpr =
    """floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 +
      |       (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5)
      |      * 10000.0 + 0.5) / 10000.0""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("t1_langid",
      (s, d) => langId(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH $statsSqlCte
              |SELECT doc_id,
              |       floor(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
              |       CASE WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
              |            THEN 'en' ELSE 'other' END AS pred_lang,
              |       CAST(lang = 'en' AS INT) AS is_en
              |FROM st ORDER BY doc_id""".stripMargin),
      doc = "language-ID n-gram/stopword heuristic"),

    Q("t2_quality",
      (s, d) => qualityScore(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH $statsSqlCte
              |SELECT doc_id, n_tokens,
              |       floor(CAST(sum_wlen AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS avg_wlen,
              |       floor(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
              |       $qualitySqlExpr AS quality
              |FROM st ORDER BY doc_id""".stripMargin),
      doc = "document quality scoring (length/stopword/word-length ratios)"),

    Q("t3_token_counts",
      (s, d) => tokenCounts(docs(s, d)).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |       CAST(len($toksSql) AS BIGINT) AS ws_tokens,
              |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
              |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "token counting: whitespace + BPE-ish regex segmentation"),

    Q("t4_fingerprint",
      (s, d) => fingerprint(docs(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       substr(md5(lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')))), 1, 16) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "document fingerprinting (md5 of normalized text)"),

    Q("t6_normalize_stopwords",
      (s, d) => docs(s, d)
        .select(col("doc_id"), explode(expr(Dedup.tokensExpr)).as("w"))
        .select(col("doc_id"), lower(col("w")).as("w"))
        .where(!col("w").isin(Stopwords: _*))
        .select(col("doc_id"),
          regexp_replace(col("w"), "(ing|ed|es|s)$", "").as("stem"))
        .where(length(col("stem")) > 0)
        .groupBy("doc_id", "stem").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "stem"),
      Some(s"""WITH tok AS (
              |  SELECT doc_id, lower(unnest($toksSql)) AS w FROM documents),
              |st AS (
              |  SELECT doc_id, regexp_replace(w, '(ing|ed|es|s)$$', '') AS stem
              |  FROM tok WHERE w NOT IN $stopSql)
              |SELECT doc_id, stem, count(*) AS tf
              |FROM st WHERE length(stem) > 0
              |GROUP BY doc_id, stem ORDER BY doc_id, stem""".stripMargin),
      doc = "token normalization + stopword removal + suffix-strip stemming"),

    Q("t7_top_terms_per_lang",
      (s, d) => topTermsPerLang(docs(s, d), 5).orderBy("lang", "rank"),
      Some(s"""WITH tok AS (SELECT lang, unnest($toksSql) AS w FROM documents),
              |c AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY lang, w),
              |r AS (
              |  SELECT lang, w, n,
              |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rank
              |  FROM c)
              |SELECT lang, rank, w AS term, n FROM r
              |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),
      doc = "top-k terms per language (per-group top-k over reduced counts)"),

    Q("t5_tfidf",
      (s, d) => tfidfTop(docs(s, d), 3).orderBy("doc_id", "rank"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
              |idf AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
              |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              |scored AS (
              |  SELECT doc_id, w,
              |         floor(CAST(tf AS DOUBLE) *
              |               ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
              |               * 1000000.0 + 0.5) / 1000000.0 AS tfidf
              |  FROM tf JOIN idf USING (w) CROSS JOIN nd),
              |r AS (
              |  SELECT doc_id, w, tfidf,
              |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
              |  FROM scored)
              |SELECT doc_id, rn AS rank, w AS term, tfidf
              |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin),
      doc = "TF-IDF top-terms per doc (tf·ln(N/df), join + window)"),

    Q("t8_repetition",
      (s, d) => repetitionScore(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
              |arr AS (
              |  SELECT doc_id,
              |         CAST(len(t) AS BIGINT) AS n_tokens,
              |         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
              |         CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_tri,
              |         CAST(len(list_distinct(CASE WHEN len(t) >= 3
              |              THEN list_transform(range(1, len(t) - 1),
              |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |              ELSE CAST([] AS VARCHAR[]) END)) AS BIGINT) AS n_tri_distinct
              |  FROM toks),
              |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |         ELSE CAST([] AS VARCHAR[]) END) AS bg FROM toks),
              |bgc AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
              |mbg AS (SELECT doc_id, max(n) AS max_bg FROM bgc GROUP BY doc_id),
              |m AS (
              |  SELECT a.doc_id, n_tokens,
              |         floor((CASE WHEN n_tokens > 0
              |                THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
              |         floor((CASE WHEN n_tri > 0
              |                THEN 1.0 - CAST(n_tri_distinct AS DOUBLE) / CAST(n_tri AS DOUBLE)
              |                ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS dup_trigram_frac,
              |         floor(CAST(coalesce(max_bg, 0) AS DOUBLE) /
              |               CAST(greatest(n_tokens - 1, 1) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac
              |  FROM arr a LEFT JOIN mbg ON a.doc_id = mbg.doc_id)
              |SELECT doc_id, n_tokens, ttr, dup_trigram_frac, top_bigram_frac,
              |       CAST(ttr >= 0.2 AND top_bigram_frac <= 0.18 AS BIGINT) AS keep
              |FROM m ORDER BY doc_id""".stripMargin),
      doc = "Gopher-style repetition metrics: type-token ratio and " +
        "duplicate-trigram fraction as pure array arithmetic in the scan " +
        "stage; top-bigram mode via two-level map-side-combinable aggregate"),

    Q("t10_zipf",
      (s, d) => zipfFit(docs(s, d)),
      Some(s"""WITH tok AS (SELECT unnest($toksSql) AS w FROM documents),
              |freq AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
              |lv AS (SELECT f, count(*) AS cnt FROM freq GROUP BY f),
              |m AS (SELECT f, cnt,
              |        sum(cnt) OVER (ORDER BY f DESC
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS base
              |      FROM lv),
              |xy AS (SELECT CAST(cnt AS DOUBLE) AS wt, f * cnt AS tk,
              |              ln(CAST(base AS DOUBLE)
              |                 + (CAST(cnt AS DOUBLE) + 1.0) / 2.0) AS x,
              |              ln(CAST(f AS DOUBLE)) AS y
              |       FROM m)
              |SELECT CAST(sum(wt) AS BIGINT) AS n_types,
              |       CAST(sum(tk) AS BIGINT) AS n_tokens,
              |       CASE WHEN count(*) > 1 THEN
              |         floor((sum(wt * x * y) - sum(wt * x) * sum(wt * y) / sum(wt))
              |               / (sum(wt * x * x) - sum(wt * x) * sum(wt * x) / sum(wt))
              |               * 1000000.0 + 0.5) / 1000000.0
              |       END AS zipf_slope
              |FROM xy""".stripMargin),
      doc = "corpus Zipf slope: weighted least squares over frequency " +
        "levels with Spearman tie-midpoint ranks — no per-type global " +
        "rank, the only window runs over the tiny level table"),

    Q("t11_surprisal",
      (s, d) => surprisal(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |n AS (SELECT count(*) AS n_total FROM tok),
              |lp AS (
              |  SELECT w, CAST(floor(-ln(CAST(count(*) AS DOUBLE)
              |                / (SELECT n_total FROM n)) * 1000000.0) AS BIGINT) AS lp_micro
              |  FROM tok GROUP BY w),
              |per AS (
              |  SELECT tok.doc_id, count(*) AS n_tokens, sum(lp.lp_micro) AS s
              |  FROM tok JOIN lp ON tok.w = lp.w
              |  GROUP BY tok.doc_id)
              |SELECT doc_id, n_tokens,
              |       floor(CAST(s AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_surprisal
              |FROM per ORDER BY doc_id""".stripMargin),
      doc = "per-doc corpus surprisal (mean -ln p(w), micro-nat fixed-point " +
        "integer sums so the aggregate is order-independent): the LM-free " +
        "perplexity-style quality signal"),

    Q("t16_bigram_surprisal",
      (s, d) => bigramSurprisal(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH wt AS (SELECT doc_id, $toksSql AS t FROM documents),
              |tok AS (SELECT doc_id, unnest(t) AS w FROM wt),
              |n AS (SELECT count(*) AS n_total FROM tok),
              |uni AS (SELECT w, count(*) AS fw FROM tok GROUP BY w),
              |ev AS (
              |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |    ELSE CAST([] AS VARCHAR[]) END) AS bg
              |  FROM wt),
              |fbg AS (SELECT bg, count(*) AS fbg,
              |               split_part(bg, ' ', 1) AS w1,
              |               split_part(bg, ' ', 2) AS w2
              |        FROM ev GROUP BY bg),
              |ctx AS (SELECT w1 AS cw, CAST(sum(fbg) AS BIGINT) AS c1
              |        FROM fbg GROUP BY w1),
              |sc AS (
              |  SELECT bg, CAST(floor(-ln(0.75 * (CAST(fbg AS DOUBLE) / CAST(c1 AS DOUBLE))
              |               + 0.25 * (CAST(fw AS DOUBLE) / CAST(n_total AS DOUBLE)))
              |          * 1000000.0) AS BIGINT) AS nll_micro
              |  FROM fbg JOIN ctx ON w1 = cw JOIN uni ON w2 = uni.w, n),
              |per AS (SELECT doc_id, count(*) AS n_bigrams, sum(nll_micro) AS s
              |        FROM ev JOIN sc USING (bg) GROUP BY doc_id)
              |SELECT doc_id, n_bigrams,
              |       floor(CAST(s AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_bigram_surprisal
              |FROM per ORDER BY doc_id""".stripMargin),
      doc = "per-doc interpolated bigram surprisal (Jelinek-Mercer " +
        "λ=0.75 with the corpus unigram): transition-level quality " +
        "signal; vocabulary-scaled model tables joined back to the " +
        "map-side bigram event stream, micro-nat integer sums"),

    Q("t17_token_entropy",
      (s, d) => tokenEntropy(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
              |per AS (
              |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              |         count(*) AS n_types,
              |         CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
              |                  * 1000000.0) AS BIGINT)) AS BIGINT) AS s
              |  FROM c GROUP BY doc_id)
              |SELECT doc_id, n_tokens, n_types,
              |       floor((ln(CAST(n_tokens AS DOUBLE))
              |              - CAST(s AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE))
              |             * 1000000.0 + 0.5) / 1000000.0 AS entropy_nats
              |FROM per ORDER BY doc_id""".stripMargin),
      doc = "per-doc token-distribution Shannon entropy via " +
        "H = ln n − Σ c·ln c / n: two reduces, zero joins; micro-nat " +
        "integer terms so aggregation order cannot shift the result"),

    Q("t13_langid_confusion",
      (s, d) => langIdConfusion(docs(s, d)).orderBy("true_lang", "pred_lang"),
      Some(s"""WITH $statsSqlCte,
              |cls AS (
              |  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS true_lang,
              |         CASE WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.05
              |              THEN 'en' ELSE 'other' END AS pred_lang
              |  FROM st),
              |cell AS (SELECT true_lang, pred_lang, count(*) AS n
              |         FROM cls GROUP BY true_lang, pred_lang)
              |SELECT true_lang, pred_lang, n,
              |       floor(CAST(n AS DOUBLE)
              |             / CAST(sum(n) OVER (PARTITION BY true_lang) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS class_share
              |FROM cell ORDER BY true_lang, pred_lang""".stripMargin),
      doc = "t1 language-ID confusion census vs ground truth: |classes|^2 " +
        "rows at any corpus size, recall on the diagonal"),

    Q("t12_bpe_pairs",
      (s, d) => bpePairCounts(docs(s, d), 20),
      Some(s"""WITH tok AS (SELECT unnest($toksSql) AS w FROM documents),
              |wf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
              |p AS (
              |  SELECT f, unnest(CASE WHEN length(w) >= 2
              |    THEN list_transform(range(1, length(w)), i -> substr(w, i, 2))
              |    ELSE CAST([] AS VARCHAR[]) END) AS pair
              |  FROM wf)
              |SELECT pair, CAST(sum(f) AS BIGINT) AS n
              |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      doc = "BPE merge statistics: frequency-weighted adjacent character " +
        "pairs over the distinct-word table (vocab-sized per iteration); " +
        "the top row is the next merge"),

    Q("t42_bpe_merges",
      (s, d) => bpeMerges(docs(s, d), BpeMergeRounds),
      Some(bpeMergesSql(BpeMergeRounds)),
      doc = "the full iterative BPE merge loop (tokenizer training): " +
        s"$BpeMergeRounds unrolled rounds of count-pairs -> argmax -> " +
        "greedy leftmost merge over the vocab-sized word-frequency " +
        "table; each round's state is materialized and the 1-row " +
        "winner broadcasts back (the dedupClusters iteration shape). " +
        "Oracle: the same rounds as unrolled DuckDB CTEs with a " +
        "list_reduce fold sharing the merge-application semantics"),

    Q("t9_oov_rate",
      (s, d) => oovRate(docs(s, d), 10).orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |wc AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
              |vocab AS (
              |  SELECT w FROM wc ORDER BY n DESC, w LIMIT 10),
              |per AS (
              |  SELECT doc_id, count(*) AS n_tokens,
              |         sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS n_oov
              |  FROM tok LEFT JOIN vocab ON tok.w = vocab.w
              |  GROUP BY doc_id)
              |SELECT doc_id, n_tokens, CAST(n_oov AS BIGINT) AS n_oov,
              |       floor(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS oov_ratio
              |FROM per ORDER BY doc_id""".stripMargin),
      doc = "per-doc OOV rate vs the corpus top-10 vocabulary: reduced " +
        "word counts -> top-k -> broadcast vocab left-join (tokenizer " +
        "coverage measurement)"),

    Q("t14_pii_scrub",
      (s, d) => piiScrub(docs(s, d)).orderBy("doc_id"),
      // the patterns interpolate verbatim: DuckDB single-quoted literals
      // keep backslashes, and both engines read the same RE2/Java-common
      // regex subset (see EmailRe scaladoc)
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '$EmailRe')) AS n_email,
              |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ipv4,
              |  len(regexp_extract_all(text, '$SsnRe')) AS n_ssn,
              |  length(regexp_replace(text, '$EmailRe|$Ipv4Re|$SsnRe',
              |                        '<PII>', 'g')) AS scrubbed_len
              |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "PII detection + scrub census: email/IPv4/SSN span counts and " +
        "post-redaction length, all codegen'd scan-stage projections - " +
        "no shuffle, no UDF; the redaction pass before data leaves the " +
        "raw zone"),

    Q("t15_winnow",
      (s, d) => DedupQueries.sharedWinnowFps(s, d).orderBy("doc_id", "fp_pos"),
      Some(s"""WITH $winnowSqlCte
              |SELECT doc_id, fp_pos, fp FROM wfp
              |ORDER BY doc_id, fp_pos""".stripMargin),
      doc = "winnowing document fingerprints (Schleimer et al. SIGMOD'03): " +
        "rightmost-minimal shingle hash per sliding window of 4, as one " +
        "struct-min window aggregate - per-doc sequence op, one doc_id " +
        "shuffle, ~2/(w+1) of the full shingle index feeds downstream " +
        "candidate joins. EAGER: returns the session-shared materialized " +
        "fingerprint table (also read by y9)"),

    Q("y9_winnow_candidates",
      // r16: reads the BUCKETED distinct (doc_id, fp) layout — the fp
      // df groupBy, join-back and self-join inherit the bucket
      // distribution (PlanAuditSpec pins the exchange-free front)
      (s, d) => candidatesFromDistinctFps(
          DedupQueries.sharedBucketedWinnowFps(s, d),
          capTab = Some(DedupQueries.sharedWinnowCap(s, d)))
        .orderBy("doc_a", "doc_b"),
      // the derived-cap chain interpolates the SAME budget/floor/ceiling
      // vals the Spark side reads, so the engines cannot desync
      Some(s"""WITH $winnowSqlCte,
              |f AS (SELECT DISTINCT doc_id, fp FROM wfp),
              |${DedupQueries.autoCappedSqlCtes("f", Seq("fp"), "w")},
              |bd AS (SELECT doc_id, fp FROM wcapped)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |       count(*) AS n_shared
              |FROM bd a JOIN bd b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin),
      doc = "winnow-fingerprint candidate pairs (the MOSS shape): " +
        "df-capped inverted-index join over the SELECTED fingerprints " +
        "only - the same candidate discipline as g4 at ~2/(w+1) the " +
        "index size, with shared-fingerprint evidence counts in-result. " +
        "EAGER: reads the session-shared winnow table t15 returns"),

    Q("g27_winnow_jaccard",
      (s, d) => winnowJaccardJoinDistinct(
        DedupQueries.sharedBucketedWinnowFps(s, d), 20,
        capTab = Some(DedupQueries.sharedWinnowCap(s, d))),
      Some(s"""WITH $winnowSqlCte,
              |f AS (SELECT DISTINCT doc_id, fp FROM wfp),
              |${DedupQueries.autoCappedSqlCtes("f", Seq("fp"), "w")},
              |bd AS (SELECT doc_id, fp FROM wcapped),
              |sz AS (SELECT doc_id, count(*) AS n FROM bd GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              |  FROM bd a JOIN bd b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |  GROUP BY doc_a, doc_b),
              |j AS (
              |  SELECT doc_a, doc_b,
              |         CAST(inter AS DOUBLE) / CAST(a.n + b.n - inter AS DOUBLE) AS jac
              |  FROM inter
              |  JOIN sz a ON a.doc_id = doc_a
              |  JOIN sz b ON b.doc_id = doc_b)
              |SELECT doc_a, doc_b,
              |       floor(jac * 1000000.0 + 0.5) / 1000000.0 AS winnow_jaccard
              |FROM j ORDER BY jac DESC, doc_a, doc_b LIMIT 20""".stripMargin),
      doc = "g27 winnow-estimated Jaccard top-k: the g4 ranking over the " +
        "~2/(w+1)-density winnowed fingerprint index — the cheap " +
        "estimator/cross-check of the dedup ladder (r16 budget-matched " +
        "censuses g28/g30 adjudicated banded LSH the recall winner, so " +
        "winnow is NOT the default candidate plan); same derived " +
        "df-cap discipline as g4. EAGER: reads the session-shared " +
        "bucketed winnow layout"),

    Q("t18_source_kl",
      (s, d) => sourceUnigramKl(docs(s, d)).orderBy("source"),
      Some(s"""WITH tok AS (SELECT source, unnest($toksSql) AS w FROM documents),
              |sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
              |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
              |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sw GROUP BY 1),
              |nv AS (SELECT CAST(sum(cw) AS BIGINT) AS n,
              |              CAST(count(*) AS BIGINT) AS v FROM cw),
              |grid AS (SELECT ns.source, cw.w, ns.ns, cw.cw, nv.n, nv.v
              |         FROM cw CROSS JOIN ns CROSS JOIN nv),
              |j AS (SELECT g.source, g.ns, g.cw, g.n, g.v,
              |             coalesce(sw.c, 0) AS c
              |      FROM grid g LEFT JOIN sw
              |        ON sw.source = g.source AND sw.w = g.w),
              |k AS (SELECT source, ns,
              |        CAST(floor(
              |          ((CAST(c AS DOUBLE) + 0.5) / (CAST(ns AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
              |          * ln(((CAST(c AS DOUBLE) + 0.5) / (CAST(ns AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
              |               / (CAST(cw AS DOUBLE) / CAST(n AS DOUBLE)))
              |          * 1000000000000.0 + 0.5) / 1000000000000.0
              |          AS DECIMAL(38,12)) AS contrib
              |      FROM j)
              |SELECT source, ns AS n_tokens,
              |       floor(CAST(sum(contrib) AS DOUBLE) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS kl_nats
              |FROM k GROUP BY 1, 2 ORDER BY source""".stripMargin),
      doc = "per-source unigram KL divergence vs the corpus mixture: " +
        "add-half smoothing over the shared corpus vocabulary, decimal " +
        "contribution sums (order-independent), one combinable count pass"),

    Q("t19_gopher_rules",
      (s, d) => gopherRules(docs(s, d)).orderBy("source"),
      Some(s"""WITH $gopherFlagsSqlCtes
              |SELECT source, count(*) AS n_docs,
              |       CAST(sum(CASE WHEN NOT p_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
              |       CAST(sum(CASE WHEN NOT p_wlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wlen,
              |       CAST(sum(CASE WHEN NOT p_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
              |       CAST(sum(CASE WHEN NOT p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
              |       CAST(sum(CASE WHEN p_len AND p_wlen AND p_stop AND p_alpha
              |                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              |       floor(CAST(sum(CASE WHEN p_len AND p_wlen AND p_stop AND p_alpha
              |                      THEN 1 ELSE 0 END) AS DOUBLE)
              |             / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
              |         / 1000000.0 AS pass_rate
              |FROM f GROUP BY 1 ORDER BY source""".stripMargin),
      doc = "Gopher-style hard-rule census per source (length band, mean " +
        "word length, stopword fraction, alphabetic fraction): per-rule " +
        "fail counts + all-rules pass rate, one text pass with no " +
        "explode, |sources|-row shuffle only"),

    Q("t20_bm25",
      (s, d) => bm25TopDocs(docs(s, d), Seq("join", "vector", "stream"), 20)
        .orderBy("rank"),
      Some(s"""WITH base AS (SELECT doc_id, $toksSql AS t FROM documents),
              |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM base),
              |g AS (SELECT CAST(sum(dl) AS BIGINT) AS sl, count(*) AS nd FROM d),
              |tok AS (SELECT doc_id, dl, unnest(t) AS w FROM d),
              |tf AS (
              |  SELECT doc_id, dl, w, count(*) AS tf FROM tok
              |  WHERE w IN ('join', 'vector', 'stream') GROUP BY 1, 2, 3),
              |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              |c AS (
              |  SELECT doc_id,
              |         CAST(floor((ln(1.0 + (cast(nd as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5)) * (cast(tf as double) * 2.2) / (cast(tf as double) + 1.2 * (1.0 - 0.75 + 0.75 * cast(dl as double) / (cast(sl as double) / cast(nd as double)))))
              |               * 1000000000.0 + 0.5) / 1000000000.0
              |           AS DECIMAL(28,9)) AS contrib
              |  FROM tf JOIN df USING (w) CROSS JOIN g),
              |sc AS (
              |  SELECT doc_id,
              |         floor(CAST(sum(contrib) AS DOUBLE) * 1000000.0 + 0.5)
              |           / 1000000.0 AS bm25
              |  FROM c GROUP BY 1),
              |r AS (
              |  SELECT doc_id, bm25,
              |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
              |  FROM sc)
              |SELECT doc_id, rank, bm25 FROM r WHERE rank <= 20
              |ORDER BY rank""".stripMargin),
      doc = "BM25 retrieval scoring (Okapi; k1=1.2, b=0.75) for a fixed " +
        "query-term set: pushed IN-list keeps only query-term postings " +
        "in flight, broadcast df + corpus stats, decimal contribution " +
        "sum, TakeOrdered top-20"),

    Q("t21_dsir_weights",
      (s, d) => dsirWeights(docs(s, d), "src0").orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS t FROM documents),
              |bgl AS (
              |  SELECT doc_id, source,
              |         unnest(CASE WHEN len(t) >= 2
              |           THEN list_transform(range(1, len(t)),
              |                  i -> t[i] || ' ' || t[i+1])
              |           ELSE CAST([] AS VARCHAR[]) END) AS g
              |  FROM t),
              |bg AS (
              |  SELECT doc_id, source,
              |         ('0x' || substr(md5(g), 1, 14))::BIGINT % 4096 AS b
              |  FROM bgl),
              |lm AS (
              |  SELECT b, count(*) AS cr,
              |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              |              AS BIGINT) AS ct
              |  FROM bg GROUP BY 1),
              |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
              |               CAST(sum(ct) AS BIGINT) AS tt FROM lm),
              |dc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
              |ctr AS (
              |  SELECT doc_id, c,
              |         CAST(floor(cast(c as double) *
              |           ln(((cast(ct as double) + 1.0) / (cast(tt as double) + 4096.0)) / ((cast(cr as double) + 1.0) / (cast(tr as double) + 4096.0)))
              |           * 1000000000.0 + 0.5) / 1000000000.0
              |           AS DECIMAL(28,9)) AS contrib
              |  FROM dc JOIN lm USING (b) CROSS JOIN tot)
              |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
              |       floor(CAST(sum(contrib) AS DOUBLE) * 1000000.0 + 0.5)
              |         / 1000000.0 AS log_weight
              |FROM ctr GROUP BY 1 ORDER BY doc_id""".stripMargin),
      doc = "DSIR importance weights (Xie et al. NeurIPS'23): hashed-" +
        "bigram log-likelihood ratio of a target source vs the raw " +
        "corpus — bounded 4096-cell LMs from ONE conditional count " +
        "pass, broadcast to a combinable per-doc scorer"),

    Q("t22_ngram_novelty",
      (s, d) => ngramNovelty(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
              |bg0 AS (
              |  SELECT doc_id,
              |         unnest(CASE WHEN len(t) >= 2
              |           THEN list_transform(range(1, len(t)),
              |                  i -> t[i] || ' ' || t[i+1])
              |           ELSE CAST([] AS VARCHAR[]) END) AS g
              |  FROM t),
              |bg AS (SELECT DISTINCT doc_id, g FROM bg0),
              |f AS (SELECT g, min(doc_id) AS first_doc FROM bg GROUP BY 1)
              |SELECT bg.doc_id, count(*) AS n_bigram_types,
              |       CAST(sum(CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END)
              |            AS BIGINT) AS n_novel,
              |       floor(CAST(sum(CASE WHEN f.first_doc = bg.doc_id THEN 1 ELSE 0 END)
              |                  AS DOUBLE) / CAST(count(*) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS novelty_rate
              |FROM bg JOIN f USING (g)
              |GROUP BY 1 ORDER BY doc_id""".stripMargin),
      doc = "per-doc first-appearance bigram fraction (marginal-content " +
        "novelty curve): distinct (doc, bigram) index, combinable " +
        "first-doc min, 1:1 join on the same key — partitioning reused"),

    Q("t23_burstiness",
      (s, d) => wordBurstiness(docs(s, d)),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |wc AS (SELECT w, doc_id, count(*) AS c FROM tok GROUP BY 1, 2),
              |mo AS (
              |  SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS tot,
              |         CAST(sum(c * c) AS BIGINT) AS sxx
              |  FROM wc GROUP BY 1 HAVING count(*) >= 2)
              |SELECT w AS word, df, tot AS total_tf,
              |       floor(($burstVmrExpr) * 1000000000.0 + 0.5) / 1000000000.0 AS vmr
              |FROM mo ORDER BY vmr DESC, word LIMIT 100""".stripMargin),
      doc = "word burstiness (Church-Gale VMR of per-doc tf over " +
        "containing docs): one explode pass, exact per-word integer " +
        "moments, shared-tree VMR, TakeOrdered top-k cap"),

    Q("t24_hapax",
      (s, d) => hapaxCensus(docs(s, d)),
      Some(s"""WITH tok AS (SELECT source, unnest($toksSql) AS w FROM documents),
              |wc AS (SELECT source, w, count(*) AS tf FROM tok GROUP BY 1, 2),
              |c AS (
              |  SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
              |         count(*) AS vocab,
              |         CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |           AS hapax
              |  FROM wc GROUP BY 1)
              |SELECT source, n_tokens, vocab, hapax,
              |       floor(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS hapax_share,
              |       floor(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS ttr
              |FROM c ORDER BY source""".stripMargin),
      doc = "per-source hapax/vocabulary census (hapax share + TTR): one " +
        "explode pass to the vocab-sized (source, word, tf) table, then " +
        "a |sources|-row rollup"),

    Q("t25_vocab_overlap",
      (s, d) => vocabOverlap(docs(s, d)),
      Some(s"""WITH sv AS (
              |  SELECT DISTINCT source, w FROM
              |    (SELECT source, unnest($toksSql) AS w FROM documents) t),
              |sz AS (SELECT source, count(*) AS sz FROM sv GROUP BY 1),
              |i AS (
              |  SELECT a.source AS src_a, b.source AS src_b,
              |         count(*) AS n_common
              |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT src_a, src_b, n_common,
              |       floor(CAST(n_common AS DOUBLE)
              |             / CAST(za.sz + zb.sz - n_common AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS jaccard
              |FROM i JOIN sz za ON za.source = src_a
              |       JOIN sz zb ON zb.source = src_b
              |ORDER BY src_a, src_b""".stripMargin),
      doc = "pairwise source-vocabulary Jaccard: distinct (source, word) " +
        "index, word self-join fan-out capped by |sources|^2 (bounded " +
        "census dimension), broadcast size join"),

    Q("t26_char_classes",
      (s, d) => charClassProfile(docs(s, d)),
      Some("""WITH c AS (
             |  SELECT source,
             |         CAST(sum(length(text)) AS BIGINT) AS n_chars,
             |         CAST(sum(length(text)
             |           - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS alpha,
             |         CAST(sum(length(text)
             |           - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS digit,
             |         CAST(sum(length(text)
             |           - length(regexp_replace(text, '[ \t\n\r\f]', '', 'g'))) AS BIGINT) AS space
             |  FROM documents GROUP BY 1)
             |SELECT source, n_chars,
             |       floor(CAST(alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS alpha_share,
             |       floor(CAST(digit AS DOUBLE) / CAST(n_chars AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS digit_share,
             |       floor(CAST(space AS DOUBLE) / CAST(n_chars AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS space_share,
             |       floor(CAST(n_chars - alpha - digit - space AS DOUBLE)
             |             / CAST(n_chars AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS other_share
             |FROM c ORDER BY source""".stripMargin),
      doc = "per-source char-class composition (alpha/digit/space/other " +
        "shares): length-of-regexp-replace exact integer counts, one " +
        "combinable pass, no explode; oracle uses the 'g' flag"),

    Q("t27_log_odds",
      (s, d) => logOddsKeywords(docs(s, d)),
      Some(s"""WITH tok AS (
              |  SELECT lang, unnest($toksSql) AS w FROM documents
              |  WHERE lang IN ('en', 'de')),
              |wc AS (
              |  SELECT w, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
              |         CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS cb
              |  FROM tok GROUP BY 1),
              |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
              |             CAST(sum(cb) AS BIGINT) AS nb,
              |             count(*) AS v FROM wc)
              |SELECT w AS word, ca, cb,
              |       floor(($logOddsZExpr) * 1000000.0 + 0.5) / 1000000.0 AS z
              |FROM wc CROSS JOIN t
              |ORDER BY z DESC, word LIMIT 20""".stripMargin),
      doc = "Fightin'-Words discriminative keywords (log-odds ratio, " +
        "Dirichlet prior, z-scaled): one conditional count pass to the " +
        "vocab table, broadcast totals, TakeOrdered top-k on pround-ed z"),

    Q("t28_simpson",
      (s, d) => simpsonDiversity(docs(s, d)),
      Some(s"""WITH cnt AS (
              |  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
              |g AS (
              |  SELECT lang, CAST(sum(c) AS HUGEINT) AS n,
              |         sum(CAST(c AS HUGEINT) * c) AS ss,
              |         count(*) AS n_sources
              |  FROM cnt GROUP BY 1)
              |SELECT lang, CAST(n AS BIGINT) AS n_docs, n_sources,
              |       floor(($hhiExpr) * 1000000000.0 + 0.5) / 1000000000.0 AS hhi,
              |       floor(($effSourcesExpr) * 1000000.0 + 0.5) / 1000000.0
              |         AS effective_sources
              |FROM g ORDER BY lang""".stripMargin),
      doc = "Simpson concentration + effective source count per language " +
        "(HHI and its reciprocal): one (lang, source) count pass, exact " +
        "DECIMAL c^2 sums, |langs|-row output"),

    Q("t29_js_divergence",
      (s, d) => jsDivergence(docs(s, d)),
      Some(s"""WITH wc AS (
              |  SELECT source, w, count(*) AS c FROM
              |    (SELECT source, unnest($toksSql) AS w FROM documents) t
              |  GROUP BY 1, 2),
              |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM wc GROUP BY 1),
              |pq AS (
              |  SELECT wc.source, w, CAST(c AS DOUBLE) / CAST(ns AS DOUBLE) AS p
              |  FROM wc JOIN ns USING (source)),
              |co AS (
              |  SELECT a.source AS src_a, b.source AS src_b,
              |         CAST(${Parity.proundSql("(a.p * ln(a.p / ((a.p + b.p) / 2.0)) + b.p * ln(b.p / ((a.p + b.p) / 2.0)))", 12)}
              |              AS DECIMAL(38,12)) AS contrib,
              |         CAST(${Parity.proundSql("a.p", 12)} AS DECIMAL(38,12)) AS pm,
              |         CAST(${Parity.proundSql("b.p", 12)} AS DECIMAL(38,12)) AS qm
              |  FROM pq a JOIN pq b ON a.w = b.w AND a.source < b.source),
              |g AS (
              |  SELECT src_a, src_b, sum(contrib) AS cs, sum(pm) AS pco,
              |         sum(qm) AS qco
              |  FROM co GROUP BY 1, 2)
              |SELECT src_a, src_b,
              |       floor(($jsTotalExpr)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS js_nats
              |FROM g ORDER BY src_a, src_b""".stripMargin),
      doc = "pairwise source JS divergence: co-occurrence word join with " +
        "|sources|^2-bounded fan-out, closed-form ln2 uncovered-mass " +
        "terms, 12-dp-quantized decimal contribution sums, shared LN2 " +
        "literal"),

    Q("t30_code_detect",
      (s, d) => codeDetect(docs(s, d)),
      Some("""WITH per AS (
             |  SELECT source,
             |         CAST(length(text)
             |           - length(regexp_replace(text, '[{};=<>()]', '', 'g'))
             |           AS BIGINT) AS nsym,
             |         CAST(length(text) AS BIGINT) AS nch
             |  FROM documents WHERE length(text) > 0)
             |SELECT source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN CAST(nsym AS DOUBLE)
             |                       >= CAST(nch AS DOUBLE) * 0.05
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
             |       floor(CAST(sum(CASE WHEN CAST(nsym AS DOUBLE)
             |                             >= CAST(nch AS DOUBLE) * 0.05
             |                           THEN 1 ELSE 0 END) AS DOUBLE)
             |             / CAST(count(*) AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS code_share,
             |       floor(CAST(sum(nsym) AS DOUBLE) / CAST(sum(nch) AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS symbol_density
             |FROM per GROUP BY source ORDER BY source""".stripMargin),
      doc = "code-vs-prose routing census: symbol-density threshold over " +
        "two codegen'd length projections, no explode, |sources|-row " +
        "rollup"),

    Q("t31_pmi_collocations",
      (s, d) => pmiCollocations(docs(s, d)),
      Some(s"""WITH wt AS (SELECT doc_id, $toksSql AS t FROM documents),
              |tok AS (SELECT doc_id, unnest(t) AS w FROM wt),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
              |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS fw FROM tok GROUP BY w),
              |ev AS (
              |  SELECT unnest(CASE WHEN len(t) >= 2
              |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |    ELSE CAST([] AS VARCHAR[]) END) AS bg
              |  FROM wt),
              |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM ev),
              |fbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS fbg FROM ev
              |        GROUP BY bg HAVING count(*) >= 5)
              |SELECT bg, fbg,
              |       CAST(floor(ln((CAST(fbg AS DOUBLE) / CAST(n_bg AS DOUBLE))
              |         / ((CAST(f1.fw AS DOUBLE) / CAST(n_tok AS DOUBLE))
              |            * (CAST(f2.fw AS DOUBLE) / CAST(n_tok AS DOUBLE))))
              |         * 1000000.0) AS BIGINT) AS pmi_micro
              |FROM fbg
              |JOIN uni f1 ON f1.w = split_part(bg, ' ', 1)
              |JOIN uni f2 ON f2.w = split_part(bg, ' ', 2)
              |CROSS JOIN n CROSS JOIN nb
              |ORDER BY pmi_micro DESC, bg LIMIT 20""".stripMargin),
      doc = "top-20 PMI collocations (min bigram count 5): " +
        "observed-bigram reduction before any join, vocab-sized unigram " +
        "shuffle joins (never broadcast at corpus scale), integer " +
        "micro-nat ranking via TakeOrderedAndProject"),

    Q("t32_readability",
      (s, d) => readability(docs(s, d)),
      Some(s"""WITH per AS (
              |  SELECT source,
              |         CAST(len($toksSql) AS BIGINT) AS nw,
              |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              |           AS BIGINT) AS ns,
              |         CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
              |           AS BIGINT) AS nv
              |  FROM documents),
              |agg AS (
              |  SELECT source, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS nw,
              |         CAST(sum(ns) AS BIGINT) AS ns, CAST(sum(nv) AS BIGINT) AS nv
              |  FROM per GROUP BY source)
              |SELECT source, n_docs, nw AS n_words,
              |       floor((CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
              |             * 1000000.0 + 0.5) / 1000000.0 AS words_per_sentence,
              |       floor((CASE WHEN nw = 0 THEN NULL
              |              ELSE CAST(nv AS DOUBLE) / CAST(nw AS DOUBLE) END)
              |             * 1000000.0 + 0.5) / 1000000.0 AS vowel_groups_per_word,
              |       floor((CASE WHEN nw = 0 THEN NULL
              |              ELSE 206.835
              |                - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
              |                - 84.6 * (CASE WHEN nw = 0 THEN NULL
              |                    ELSE CAST(nv AS DOUBLE) / CAST(nw AS DOUBLE) END)
              |              END)
              |             * 10000.0 + 0.5) / 10000.0 AS flesch_score
              |FROM agg ORDER BY source""".stripMargin),
      doc = "Flesch-style readability census per source: three codegen'd " +
        "regexp/size projections (no explode), exact-long combinable " +
        "reduction, shared IEEE score tree over |sources| rows, " +
        "zero-word null guard"),

    Q("t33_heldout_ppl",
      (s, d) => heldoutPerplexity(docs(s, d)),
      Some(s"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
              |te AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
              |trt AS (SELECT unnest($toksSql) AS w FROM tr),
              |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS fw FROM trt GROUP BY w),
              |tot AS (SELECT CAST(sum(fw) AS BIGINT) AS n_tok,
              |               CAST(count(*) AS BIGINT) AS v_size FROM uni),
              |trb AS (
              |  SELECT unnest(CASE WHEN len(t) >= 2
              |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |    ELSE CAST([] AS VARCHAR[]) END) AS bg
              |  FROM (SELECT $toksSql AS t FROM tr) x),
              |fbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS fbg FROM trb GROUP BY bg),
              |ctx AS (SELECT split_part(bg, ' ', 1) AS cw,
              |               CAST(sum(fbg) AS BIGINT) AS c1
              |        FROM fbg GROUP BY 1),
              |teb AS (
              |  SELECT source, unnest(CASE WHEN len(t) >= 2
              |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              |    ELSE CAST([] AS VARCHAR[]) END) AS bg
              |  FROM (SELECT source, $toksSql AS t FROM te) x),
              |sc AS (
              |  SELECT source,
              |         CAST(floor(-ln(
              |             0.75 * (CASE WHEN c1 IS NULL OR c1 = 0 THEN 0.0
              |                     ELSE CAST(coalesce(fbg, 0) AS DOUBLE) / CAST(c1 AS DOUBLE) END)
              |           + 0.25 * ((CAST(coalesce(fw, 0) AS DOUBLE) + 1.0)
              |                     / (CAST(n_tok AS DOUBLE) + CAST(v_size AS DOUBLE) + 1.0)))
              |           * 1000000.0) AS BIGINT) AS nll_micro
              |  FROM teb
              |  LEFT JOIN fbg USING (bg)
              |  LEFT JOIN ctx ON split_part(bg, ' ', 1) = cw
              |  LEFT JOIN uni ON split_part(bg, ' ', 2) = uni.w
              |  CROSS JOIN tot)
              |SELECT source, count(*) AS n_bigrams,
              |       floor(exp(CAST(sum(nll_micro) AS DOUBLE) / 1000000.0
              |                 / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5)
              |         / 10000.0 AS heldout_ppl
              |FROM sc GROUP BY source ORDER BY source""".stripMargin),
      doc = "held-out bigram perplexity per source (even docs train, odd " +
        "score — duplicates can't flatter the number): vocab-sized model " +
        "tables LEFT-joined by the test bigram stream, add-one unigram " +
        "backoff for OOV, integer micro-nat sums, |sources| rollup"),

    Q("t34_heaps_curve",
      (s, d) => heapsCurve(docs(s, d)),
      Some(s"""WITH b AS (SELECT max(doc_id) + 1 AS lim FROM documents),
              |fd AS (
              |  SELECT w, min(doc_id) AS fd FROM (
              |    SELECT doc_id, unnest($toksSql) AS w FROM documents) x
              |  GROUP BY w),
              |pd AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS t
              |       FROM documents),
              |g AS (SELECT unnest(range(1, 11)) AS decile),
              |v AS (
              |  SELECT decile,
              |         CAST(sum(CASE WHEN fd < lim * decile // 10 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
              |  FROM fd CROSS JOIN b CROSS JOIN g GROUP BY decile),
              |n AS (
              |  SELECT decile,
              |         CAST(sum(CASE WHEN doc_id < lim * decile // 10 THEN t ELSE 0 END) AS BIGINT) AS n_tokens
              |  FROM pd CROSS JOIN b CROSS JOIN g GROUP BY decile)
              |SELECT CAST(decile AS BIGINT) AS decile, n_tokens, vocab_size
              |FROM v JOIN n USING (decile) ORDER BY decile""".stripMargin),
      doc = "Heaps-law vocabulary growth at 10 doc-id prefix checkpoints " +
        "(does more data still buy vocabulary?): words reduce to their " +
        "first doc, docs to token counts, every checkpoint a conditional " +
        "sum — no cumulative-distinct window, exact integers only"),

    Q("t36_filter_ablation",
      (s, d) => filterAblation(docs(s, d)),
      Some(s"""WITH $gopherFlagsSqlCtes,
              |nf AS (
              |  SELECT p_len, p_wlen, p_stop, p_alpha,
              |         (CASE WHEN p_len THEN 0 ELSE 1 END
              |          + CASE WHEN p_wlen THEN 0 ELSE 1 END
              |          + CASE WHEN p_stop THEN 0 ELSE 1 END
              |          + CASE WHEN p_alpha THEN 0 ELSE 1 END) AS n_fail
              |  FROM f)
              |SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(CASE WHEN n_fail = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              |       CAST(sum(CASE WHEN n_fail = 1 AND NOT p_len THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
              |       CAST(sum(CASE WHEN n_fail = 1 AND NOT p_wlen THEN 1 ELSE 0 END) AS BIGINT) AS only_wlen,
              |       CAST(sum(CASE WHEN n_fail = 1 AND NOT p_stop THEN 1 ELSE 0 END) AS BIGINT) AS only_stop,
              |       CAST(sum(CASE WHEN n_fail = 1 AND NOT p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS only_alpha,
              |       CAST(sum(CASE WHEN n_fail >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_fail
              |FROM nf""".stripMargin),
      doc = "Gopher filter ablation (t19's Venn companion): docs failing " +
        "ONLY each rule (what relaxing it alone recovers) vs multi-rule " +
        "kills (redundancy), one combinable pass over the shared flag " +
        "kernel to a 1-row census"),

    Q("t40_burrows_delta",
      (s, d) => burrowsDelta(docs(s, d)),
      Some(s"""WITH sw AS (
              |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
              |  FROM (SELECT source, unnest($toksSql) AS w FROM documents)
              |  GROUP BY 1, 2),
              |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
              |       FROM sw GROUP BY 1),
              |top AS (SELECT w FROM (
              |          SELECT w, CAST(sum(c) AS BIGINT) AS cw
              |          FROM sw GROUP BY 1)
              |        ORDER BY cw DESC, w LIMIT ${TextAnalysis.DefaultDeltaTopK}),
              |fr AS (
              |  SELECT ns.source, top.w,
              |         CAST(coalesce(sw.c, 0) * 1000000000 // ns.n_s AS BIGINT) AS f
              |  FROM ns CROSS JOIN top
              |  LEFT JOIN sw ON sw.source = ns.source AND sw.w = top.w),
              |st AS (SELECT w, CAST(sum(CAST(f AS HUGEINT)) AS HUGEINT) AS sf,
              |              CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff,
              |              CAST(count(*) AS BIGINT) AS sc
              |       FROM fr GROUP BY 1),
              |z AS (SELECT fr.source, fr.w, $burrowsZExpr AS z
              |      FROM fr JOIN st ON st.w = fr.w)
              |SELECT a.source AS source_a, b.source AS source_b,
              |       floor(CAST(sum(CAST(floor(abs(a.z - b.z) * 1000000000000.0 + 0.5)
              |                          / 1000000000000.0 AS DECIMAL(38,12)))
              |                  AS DOUBLE)
              |             / ${TextAnalysis.DefaultDeltaTopK}.0 * 1000000.0 + 0.5) / 1000000.0 AS delta
              |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "Burrows' Delta stylometry between sources (same-fingerprint " +
        "detection before any content dedup): exact integer micro-" +
        "frequencies over the zero-completed topK x sources grid, " +
        "decimal-exact moment sums, shared z tree, 12-dp quantized " +
        "pair sums — corpus-scale work is ONE shared (source, word) pass"),

    Q("t41_lexicon_screen",
      (s, d) => lexiconScreen(docs(s, d)),
      Some(s"""WITH tok AS (
              |  SELECT doc_id, source, unnest($toksSql) AS w FROM documents),
              |per AS (
              |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS toks,
              |         CAST(sum(CASE WHEN ('0x' || substr(md5(w), 1, 14))::BIGINT % 5 = 0
              |                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
              |  FROM tok GROUP BY 1, 2),
              |fl AS (
              |  SELECT d.source, coalesce(p.toks, 0) AS toks,
              |         coalesce(p.hits, 0) AS hits
              |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
              |r AS (
              |  SELECT source, toks, hits,
              |         CASE WHEN toks > 0 AND hits * 100 > toks * ${TextAnalysis.DefaultLexiconFlagPct}
              |              THEN 1 ELSE 0 END AS flagged,
              |         CASE WHEN toks > 0 THEN CAST(floor(CAST(hits AS DOUBLE)
              |                / CAST(toks AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
              |         END AS micro_rate
              |  FROM fl)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(flagged) AS BIGINT) AS n_flagged,
              |       CAST(sum(hits) AS BIGINT) AS lexicon_hits,
              |       CAST(sum(toks) AS BIGINT) AS total_tokens,
              |       CASE WHEN count(micro_rate) > 0 THEN
              |         floor(CAST(sum(micro_rate) AS DOUBLE)
              |               / (count(micro_rate) * 1000000.0)
              |               * 1000000000.0 + 0.5) / 1000000000.0
              |       END AS mean_hit_rate
              |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "t41 lexicon-screen quality gate (blocklist pass): per-source " +
        "census of docs whose lexicon-hit rate trips the flag threshold " +
        "(deterministic md5 surrogate for the external list, which ships " +
        "broadcast in production); micro-quantized order-free mean rate, " +
        "integer flag compares, one tokenize pass + |sources|-row rollup"),
  )
}
