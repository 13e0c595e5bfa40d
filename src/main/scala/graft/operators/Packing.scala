package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Parity.pround
import graft.plans.Md5Long56.md5Long56

/** Sequence-assembly operators for LLM training pipelines (SURVEY.md
  * §2.G [EXT] extension): packing documents into fixed-token-budget
  * training batches (the concat-then-split discipline) and chunking
  * long documents into overlapping context windows.
  *
  * Design for 100 TB:
  *  - Packing needs a running token total, which is only scalable WITHIN
  *    a partition-friendly key — so the operator packs per shard (here:
  *    per lang), exactly how production packers shard the corpus first
  *    and pack greedily inside each shard. The window is one shuffle on
  *    the shard key; batch ids derive from the running sum with integer
  *    division, no second pass.
  *  - Chunking is a pure map + explode: rows out ~= total_tokens /
  *    stride, no shuffle at all. The chunk text is sliced from the
  *    tokenized array in the same projection, so nothing is re-scanned.
  */
object Packing {

  /** Greedy in-order packing of docs into `budget`-token batches within
    * each `shard` group: a doc starts a new batch when the tokens BEFORE
    * it fill the current one. Per-batch census output. */
  def seqPacking(docs: DataFrame, shard: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(shard).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(shard), col("doc_id"),
        expr(s"cast(size(${Dedup.tokensExpr}) as bigint)").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("batch", expr(s"(cum - n_toks) div $budget"))
      .groupBy(col(shard), col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tok_sum"))
  }

  /** y10: packing-efficiency census — the waste report for y1's greedy
    * packer: per shard, how many batches, how full they run on average,
    * and how many overflow the budget (a single long doc spills past the
    * boundary by design — the count tells you whether the budget is
    * sized right for the corpus's document-length tail). The number a
    * training-infra team actually tracks: fill_rate IS the fraction of
    * non-padding tokens in each accelerator batch.
    *
    * Pure second rollup of y1's per-batch census to |shards| rows —
    * nothing new touches the corpus. */
  def packFill(docs: DataFrame, shard: String, budget: Int): DataFrame =
    seqPacking(docs, shard, budget)
      .groupBy(col(shard))
      .agg(count(lit(1)).as("n_batches"),
        sum("tok_sum").as("total_tokens"),
        sum(when(col("tok_sum") > budget, 1L).otherwise(0L)).as("n_overfull"))
      .select(col(shard), col("n_batches"), col("total_tokens"),
        col("n_overfull"),
        pround(col("total_tokens").cast("double") /
          (col("n_batches") * budget).cast("double"), 9).as("fill_rate"))
      .orderBy(col(shard))

  /** Context-length ladder for [[packFillLadder]] — interpolated into
    * both the Scala default and the y16 oracle SQL. */
  val DefaultBudgetLadder: Seq[Int] = Seq(512, 1024, 2048, 4096)

  /** y16: packing-efficiency ladder — y10's fill-rate census swept over
    * the context-length ladder {512,1k,2k,4k}: the budget-sizing curve a
    * training-infra team reads before fixing sequence length (longer
    * contexts pack tighter only until the document-length tail overflows
    * them; the overfull count is the tail report).
    *
    * Scale shape: the corpus tokenizes ONCE to a per-doc length table;
    * the ×|ladder| explode runs on that (doc_id, n_toks) table, never
    * the text (the x57 reduced-table-explode discipline); the running
    * sums partition by (budget, shard) — bounded per shard — and the
    * output is |ladder| rows. */
  def packFillLadder(docs: DataFrame, shard: String = "lang",
      budgets: Seq[Int] = DefaultBudgetLadder): DataFrame = {
    val toks = docs.select(col(shard).as("shard"), col("doc_id"),
      expr(s"cast(size(${Dedup.tokensExpr}) as bigint)").as("n_toks"))
    val lad = toks.select(col("shard"), col("doc_id"), col("n_toks"),
      explode(expr(s"array(${budgets.mkString(", ")})")).as("budget"))
    val w = Window.partitionBy("budget", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lad.withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("batch", expr("(cum - n_toks) div budget"))
      .groupBy("budget", "shard", "batch")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("tok_sum"))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_batches"),
        sum("tok_sum").as("total_tokens"),
        sum(when(col("tok_sum") > col("budget"), 1L).otherwise(0L))
          .as("n_overfull"))
      .select(col("budget").cast("long").as("budget"), col("n_batches"),
        col("total_tokens"), col("n_overfull"),
        pround(col("total_tokens").cast("double")
          / (col("n_batches") * col("budget")).cast("double"), 9)
          .as("fill_rate"))
      .orderBy("budget")
  }

  /** Overlapping context windows of `size` tokens at `stride` over each
    * doc; the final window is truncated, empty docs yield no chunks.
    * chunk_id i starts at token i·stride (0-based). */
  def chunkWindows(docs: DataFrame, size: Int, stride: Int): DataFrame =
    chunkWindowsKeeping(docs, size, stride, Nil)

  /** [[chunkWindows]] carrying extra passthrough columns (e.g. the
    * event-time column a streaming consumer needs for its watermark). */
  def chunkWindowsKeeping(docs: DataFrame, size: Int, stride: Int,
                          keep: Seq[String]): DataFrame = {
    require(stride > 0 && size >= stride,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val k = keep.map(col)
    docs
      .select(k :+ col("doc_id") :+ expr(Dedup.tokensExpr).as("toks"): _*)
      .select(k :+ col("doc_id") :+ col("toks") :+ size_(col("toks")).as("n"): _*)
      .where(col("n") > 0)
      // last chunk index = ceil((n - size) / stride) clamped at 0; the
      // integer form (n - size + stride - 1) div stride agrees between
      // Spark (trunc) and DuckDB (floor) after the greatest(, 0) clamp
      // because both round the lone negative case up into the clamp
      .select(k :+ col("doc_id") :+ col("toks") :+ col("n") :+
        explode(expr(
          s"sequence(0, greatest((n - $size + ${stride - 1}) div $stride, 0))"))
          .as("chunk_id"): _*)
      .select(k :+ col("doc_id") :+ col("chunk_id") :+
        (col("chunk_id") * stride).as("chunk_start") :+
        least(lit(size), col("n") - col("chunk_id") * stride).as("chunk_len") :+
        expr(s"array_join(slice(toks, chunk_id * $stride + 1, " +
          s"least($size, n - chunk_id * $stride)), ' ')").as("chunk_text"): _*)
  }

  /** y7: content-defined chunking — a token closes its chunk when its
    * md5 hash ≡ 0 (mod `modulus`), so expected chunk length is
    * `modulus` tokens but boundaries are a pure function of CONTENT:
    * inserting or deleting text only re-chunks the neighborhood of the
    * edit, where fixed windows ([[chunkWindows]]) shift every
    * downstream chunk. That edit-stability is what storage dedup
    * (FastCDC) and robust sub-document dedup build on. The running
    * boundary count is a per-doc window (partitioned by doc_id, bounded
    * by document length — the audited a2/a4 window class), everything
    * after is a map-side-combinable aggregate. */
  def cdcChunks(docs: DataFrame, modulus: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(expr(Dedup.tokensExpr)).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        when(md5Long56(col("w")) % modulus === 0, 1L)
          .otherwise(0L).as("b"))
    // a boundary token BELONGS to the chunk it closes: count boundaries
    // strictly before each position
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_toks"),
        min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"))
  }

  /** y6: chunk-level exact dedup census — the C4/RefinedWeb-style pass
    * that dedups at sub-document granularity. A chunk's canonical copy
    * lives in the smallest doc_id containing that exact token window;
    * per doc: how many of its chunks are canonical vs duplicated
    * (within-doc repeats count as duplicates too — the same window
    * appearing twice in one doc is still one canonical chunk).
    *
    * Scale: the dedup groupBy keys on the chunk's 128-bit md5 digest,
    * not the raw text — bounded shuffle width regardless of chunk size
    * (56-bit prefixes would birthday-collide at 10^12 chunks, so the
    * full digest it is). Both aggregations are map-side combinable and
    * the final join is per-DOC, never per-chunk. */
  def chunkDedup(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    val ch = chunkWindows(docs, size, stride)
      .select(col("doc_id"), md5(col("chunk_text")).as("h"))
    val totals = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val kept = ch.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        graft.functions.Parity.pround(
          lit(1.0) - coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_chunks").cast("double"), 6).as("chunk_dup_rate"))
  }

  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c).cast("long")

  /** y11: chunk-dedup storage ROI per source — if y6's dedup ran today,
    * how many bytes would each feed stop paying for? Every chunk
    * occurrence is charged to its own doc's source; a hash's single
    * canonical copy is credited to the source of the SMALLEST doc_id
    * holding it (y6's keep rule), so per-source savings = occurrence
    * bytes − canonically-owned bytes ≥ 0 and global savings add up
    * across sources. The number that justifies (or kills) running dedup
    * on a feed.
    *
    * Scale shape: all rollups key on the 128-bit chunk digest or on
    * source — the chunk text itself never shuffles (its byte length is
    * projected out before any exchange). */
  def dedupSavings(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    val ch = chunkWindows(docs.select(col("doc_id"), col("text")), size, stride)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), md5(col("chunk_text")).as("h"),
        octet_length(col("chunk_text")).cast("long").as("nb"))
    val occ = ch.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum("nb").as("occ_bytes"))
    val canon = ch.groupBy("h")
      .agg(min(struct(col("doc_id"), col("source"), col("nb"))).as("m"))
      .groupBy(col("m.source").as("source"))
      .agg(count(lit(1)).as("n_canonical"), sum(col("m.nb")).as("canon_bytes"))
    occ.join(canon, Seq("source"), "left")
      .select(col("source"), col("n_chunks"),
        coalesce(col("n_canonical"), lit(0L)).as("n_canonical"),
        col("occ_bytes"),
        (col("occ_bytes") - coalesce(col("canon_bytes"), lit(0L)))
          .as("saved_bytes"),
        pround((col("occ_bytes") - coalesce(col("canon_bytes"), lit(0L)))
          .cast("double") / col("occ_bytes").cast("double"), 9)
          .as("save_share"))
      .orderBy("source")
  }

  /** y12: truncation-loss ladder — for each candidate context length,
    * how many documents overflow it and what share of corpus tokens a
    * truncate-at-L policy throws away. The companion decision input to
    * y10's fill rate: short contexts pack tight but truncate the tail,
    * and this census prices that trade exactly.
    *
    * Shape: ONE tokenize pass reduces to a per-doc token count; all
    * |limits|×2 conditional sums compile into a single combinable
    * aggregate, stack-unpivoted to |limits| rows. */
  def truncationLadder(docs: DataFrame,
      limits: Seq[Int] = Seq(128, 512, 2048)): DataFrame = {
    val per = docs.select(
      expr(s"cast(size(${Dedup.tokensExpr}) as long)").as("t"))
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum("t").as("n_tokens")) ++ limits.flatMap(l => Seq(
      sum(when(col("t") > l, 1L).otherwise(0L)).as(s"over_$l"),
      sum(when(col("t") > l, col("t") - l).otherwise(0L)).as(s"lost_$l")))
    val stackArgs = limits
      .map(l => s"cast($l as bigint), `over_$l`, `lost_$l`").mkString(", ")
    per.agg(aggs.head, aggs.tail: _*)
      .select(col("n_docs"), col("n_tokens"),
        expr(s"stack(${limits.length}, $stackArgs)" +
          " as (context_len, n_truncated_docs, tokens_lost)"))
      .select(col("context_len"), col("n_docs"), col("n_tokens"),
        col("n_truncated_docs"), col("tokens_lost"),
        pround(col("tokens_lost").cast("double") /
          col("n_tokens").cast("double"), 9).as("loss_share"))
      .orderBy("context_len")
  }

  /** y14: training-shard balance census — docs hash to `nShards`
    * loader shards (the x1 md5 discipline — deterministic, uniform,
    * engine-portable) and the census prices the straggler risk of a
    * synchronous data loader: a shard with imbalance-factor-×  the
    * mean token mass finishes that much later and stalls every step.
    * One tokenize pass reduces to |shards| (docs, tokens) rows; the
    * rollup is 1 row. The md5 shard key is also what makes the layout
    * RESHUFFLE-FREE at 100 TB: workers claim shards by id, no central
    * assignment. */
  /** Default loader-shard count for [[shardBalance]]/[[shuffleQuality]].
    * Interpolated into BOTH the Scala defaults and the y14/y15 oracle
    * SQL (the g23 degCap discipline) so one edit updates both — a
    * hardcoded oracle twin would silently desync if the default moved. */
  val DefaultShards = 32

  def shardBalance(docs: DataFrame, nShards: Int = DefaultShards): DataFrame = {
    val per = docs
      .select(
        (md5Long56(expr("cast(doc_id as string)")) % nShards).as("shard"),
        expr(s"size(${Dedup.tokensExpr})").cast("long").as("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("toks").as("toks"))
    per.agg(count(lit(1)).as("n_shards"), sum("docs").as("n_docs"),
        sum("toks").as("n_tokens"),
        min("toks").as("min_shard_tokens"), max("toks").as("max_shard_tokens"))
      .select(col("n_shards"), col("n_docs"), col("n_tokens"),
        col("min_shard_tokens"), col("max_shard_tokens"),
        pround(col("max_shard_tokens").cast("double")
          * col("n_shards").cast("double")
          / col("n_tokens").cast("double"), 6).as("imbalance"))
  }

  /** y15: shuffle-quality census — does the deterministic md5 epoch
    * order actually MIX sources? Within each loader shard (the unit a
    * worker reads sequentially — y14's routing), count adjacent
    * same-source pairs in md5 rank order and compare with the exact
    * no-replacement expectation Σ c_s(c_s−1)/(n(n−1)) of a perfect
    * shuffle. mix_ratio ≈ 1 = well mixed; >> 1 = clumped reading order
    * (the curriculum-contamination failure mode). The rank windows
    * partition by shard — bounded per worker — never globally; the
    * expectation comes from the |sources| count table. */
  def shuffleQuality(docs: DataFrame, nShards: Int = DefaultShards): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
        md5Long56(expr("cast(doc_id as string)")).as("h"))
      .select(col("doc_id"), col("source"),
        (col("h") % nShards).as("shard"), expr(s"h div $nShards").as("r"))
    val w = Window.partitionBy("shard").orderBy(col("r"), col("doc_id"))
    val adj = keyed.withColumn("prev", lag("source", 1).over(w))
      .where(col("prev").isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("prev") === col("source"), 1L).otherwise(0L))
          .as("n_same"))
    val exp = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1)")).as("num"), sum("c").as("n"))
    adj.crossJoin(broadcast(exp))
      .select(col("n_pairs"), col("n_same"),
        pround(expr("cast(n_same as double) / cast(n_pairs as double)"), 6)
          .as("same_rate"),
        pround(expr(expectedAdjExpr), 6).as("expected_rate"),
        pround(expr(s"(case when ($expectedAdjExpr) is null " +
          s"or ($expectedAdjExpr) = 0.0 then cast(null as double) " +
          "else (cast(n_same as double) / cast(n_pairs as double)) " +
          s"/ ($expectedAdjExpr) end)"), 6).as("mix_ratio"))
  }

  // Exact no-replacement adjacency expectation, shared with the oracle;
  // degenerate corpora (n < 2, or all-distinct sources => 0) guard the
  // downstream ratio to null.
  private[operators] val expectedAdjExpr =
    "(case when n < 2 then cast(null as double) " +
      "else cast(num as double) " +
      "/ (cast(n as double) * cast(n - 1 as double)) end)"

  /** y13: token-budget mixing plan — given a target token budget (half
    * the corpus), which sources fill it if you take quality-best-first?
    * The data-mixing decision every curation run makes (x18 samples BY
    * temperature; this PLANS an exact greedy allocation): sources rank
    * by mean document quality, the cumulative token ladder marks each
    * source fully-taken / boundary / excluded, and the boundary source
    * gets a partial take_frac — the downsampling rate to hand x1's
    * deterministic sampler.
    *
    * Scale shape: one tokenize pass reduces docs to per-source (tokens,
    * exact-decimal mean quality); everything after runs on the
    * |sources| table — the greedy "loop" is a cumulative window over
    * ~tens of rows, never a driver loop. */
  def budgetMix(docs: DataFrame): DataFrame = {
    val perSrc = TextAnalysis.qualityScore(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum("n_tokens").as("tokens"),
        graft.functions.Parity.exactAvg(col("quality")).as("mq"))
      .select(col("source"), col("tokens"), pround(col("mq"), 6).as("mean_quality"))
    val tot = perSrc.agg(sum("tokens").as("t"))
      .select(expr("t div 2").as("budget"))
    val w = Window.orderBy(col("mean_quality").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perSrc.crossJoin(broadcast(tot))
      .withColumn("cum_before", coalesce(sum("tokens").over(w), lit(0L)))
      .select(col("source"), col("mean_quality"), col("tokens"),
        col("cum_before"), col("budget"),
        expr("case when cum_before >= budget then 0L " +
          "when cum_before + tokens <= budget then tokens " +
          "else budget - cum_before end").as("take_tokens"))
      .withColumn("take_frac",
        pround(col("take_tokens").cast("double") / col("tokens").cast("double"), 6))
      .orderBy(col("mean_quality").desc, col("source"))
  }
}

object PackingQueries {
  import Packing._
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private val toksSql =
    "list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')"

  val qs: Seq[Q] = Seq(
    Q("y1_seq_packing",
      (s, d) => seqPacking(docs(s, d), "lang", 512).orderBy("lang", "batch"),
      Some(s"""WITH t AS (
              |  SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
              |  FROM documents),
              |c AS (
              |  SELECT lang, doc_id, n_toks,
              |         sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              |           ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM t)
              |SELECT lang, CAST((cum - n_toks) // 512 AS BIGINT) AS batch,
              |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS tok_sum
              |FROM c GROUP BY lang, batch ORDER BY lang, batch""".stripMargin),
      doc = "greedy per-shard sequence packing into 512-token batches " +
        "(concat-then-split training batch assembly)"),

    Q("y2_chunk_windows",
      (s, d) => chunkWindows(docs(s, d), 32, 24).orderBy("doc_id", "chunk_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksSql AS toks, CAST(len($toksSql) AS BIGINT) AS n
              |  FROM documents),
              |e AS (
              |  SELECT doc_id, toks, n,
              |         unnest(range(0, greatest((n - 32 + 23) // 24, 0) + 1)) AS chunk_id
              |  FROM t WHERE n > 0)
              |SELECT doc_id, chunk_id, chunk_id * 24 AS chunk_start,
              |       least(32, n - chunk_id * 24) AS chunk_len,
              |       array_to_string(list_slice(toks, chunk_id * 24 + 1,
              |         chunk_id * 24 + least(32, n - chunk_id * 24)), ' ') AS chunk_text
              |FROM e ORDER BY doc_id, chunk_id""".stripMargin),
      doc = "overlapping context-window chunking (size 32, stride 24) — " +
        "map+explode only, no shuffle"),

    Q("y7_cdc_chunks",
      (s, d) => cdcChunks(docs(s, d), 8).orderBy("doc_id", "chunk_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
              |e AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t
              |      FROM t WHERE len(t) > 0),
              |tk AS (SELECT doc_id, pos,
              |         CASE WHEN ('0x' || substr(md5(t[pos]), 1, 14))::BIGINT % 8 = 0
              |              THEN 1 ELSE 0 END AS b
              |       FROM e),
              |c AS (SELECT doc_id, pos,
              |        COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
              |      FROM tk)
              |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
              |       count(*) AS n_toks, min(pos) AS start_pos, max(pos) AS end_pos
              |FROM c GROUP BY doc_id, chunk_id
              |ORDER BY doc_id, chunk_id""".stripMargin),
      doc = "content-defined chunking (FastCDC idea at token granularity): " +
        "md5-mod boundaries are edit-stable, the per-doc window is the " +
        "audited bounded a2/a4 class"),

    Q("y6_chunk_dedup",
      (s, d) => chunkDedup(docs(s, d), 3, 3).orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $toksSql AS toks, CAST(len($toksSql) AS BIGINT) AS n
              |  FROM documents),
              |e AS (
              |  SELECT doc_id, toks, n,
              |         unnest(range(0, greatest((n - 3 + 2) // 3, 0) + 1)) AS chunk_id
              |  FROM t WHERE n > 0),
              |c AS (
              |  SELECT doc_id, md5(array_to_string(list_slice(toks, chunk_id * 3 + 1,
              |           chunk_id * 3 + least(3, n - chunk_id * 3)), ' ')) AS h
              |  FROM e),
              |tot AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id),
              |canon AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY h),
              |kept AS (SELECT doc_id, count(*) AS n_kept FROM canon GROUP BY doc_id)
              |SELECT tot.doc_id, tot.n_chunks,
              |       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
              |       floor((1.0 - CAST(COALESCE(kept.n_kept, 0) AS DOUBLE)
              |              / CAST(tot.n_chunks AS DOUBLE)) * 1000000.0 + 0.5)
              |         / 1000000.0 AS chunk_dup_rate
              |FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
              |ORDER BY tot.doc_id""".stripMargin),
      doc = "chunk-level exact dedup census (3-token windows): canonical " +
        "copy = smallest doc_id holding the window; dedup groupBy keys on " +
        "the full md5 digest, final join is per-doc"),

    Q("y10_pack_fill",
      (s, d) => packFill(docs(s, d), "lang", 512),
      Some(s"""WITH t AS (
              |  SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
              |  FROM documents),
              |c AS (
              |  SELECT lang, doc_id, n_toks,
              |         sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              |           ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM t),
              |b AS (
              |  SELECT lang, CAST((cum - n_toks) // 512 AS BIGINT) AS batch,
              |         CAST(sum(n_toks) AS BIGINT) AS tok_sum
              |  FROM c GROUP BY lang, batch)
              |SELECT lang, count(*) AS n_batches,
              |       CAST(sum(tok_sum) AS BIGINT) AS total_tokens,
              |       CAST(sum(CASE WHEN tok_sum > 512 THEN 1 ELSE 0 END) AS BIGINT)
              |         AS n_overfull,
              |       floor(CAST(sum(tok_sum) AS DOUBLE)
              |             / CAST(count(*) * 512 AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS fill_rate
              |FROM b GROUP BY lang ORDER BY lang""".stripMargin),
      doc = "packing-efficiency census: per-shard batch count, fill rate " +
        "(non-padding token fraction) and overfull count — a second " +
        "rollup of y1's batch table, no new corpus pass"),

    Q("y11_dedup_savings",
      (s, d) => dedupSavings(docs(s, d), 3, 3),
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, $toksSql AS toks,
              |         CAST(len($toksSql) AS BIGINT) AS n
              |  FROM documents),
              |e AS (
              |  SELECT doc_id, source, toks, n,
              |         unnest(range(0, greatest((n - 3 + 2) // 3, 0) + 1)) AS chunk_id
              |  FROM t WHERE n > 0),
              |c AS (
              |  SELECT doc_id, source,
              |         md5(array_to_string(list_slice(toks, chunk_id * 3 + 1,
              |           chunk_id * 3 + least(3, n - chunk_id * 3)), ' ')) AS h,
              |         CAST(octet_length(encode(array_to_string(list_slice(toks, chunk_id * 3 + 1,
              |           chunk_id * 3 + least(3, n - chunk_id * 3)), ' '))) AS BIGINT) AS nb
              |  FROM e),
              |occ AS (SELECT source, count(*) AS n_chunks,
              |               CAST(sum(nb) AS BIGINT) AS occ_bytes
              |        FROM c GROUP BY 1),
              |cc AS (SELECT h, min(doc_id) AS doc_id, min(nb) AS nb
              |       FROM c GROUP BY 1),
              |canon AS (
              |  SELECT d.source, count(*) AS n_canonical,
              |         CAST(sum(cc.nb) AS BIGINT) AS canon_bytes
              |  FROM cc JOIN documents d USING (doc_id) GROUP BY 1)
              |SELECT occ.source, n_chunks,
              |       CAST(COALESCE(n_canonical, 0) AS BIGINT) AS n_canonical,
              |       occ_bytes,
              |       occ_bytes - COALESCE(canon_bytes, 0) AS saved_bytes,
              |       floor(CAST(occ_bytes - COALESCE(canon_bytes, 0) AS DOUBLE)
              |             / CAST(occ_bytes AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS save_share
              |FROM occ LEFT JOIN canon ON canon.source = occ.source
              |ORDER BY occ.source""".stripMargin),
      doc = "chunk-dedup storage ROI per source: occurrence bytes minus " +
        "canonically-owned bytes (y6's min-doc keep rule); rollups key " +
        "on the digest or source — chunk text never shuffles"),

    Q("y12_truncation_ladder",
      (s, d) => truncationLadder(docs(s, d)),
      Some(s"""WITH per AS (
              |  SELECT CAST(len($toksSql) AS BIGINT) AS t FROM documents),
              |agg AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |         CAST(sum(t) AS BIGINT) AS n_tokens,
              |         CAST(sum(CASE WHEN t > 128 THEN 1 ELSE 0 END) AS BIGINT) AS o128,
              |         CAST(sum(CASE WHEN t > 128 THEN t - 128 ELSE 0 END) AS BIGINT) AS l128,
              |         CAST(sum(CASE WHEN t > 512 THEN 1 ELSE 0 END) AS BIGINT) AS o512,
              |         CAST(sum(CASE WHEN t > 512 THEN t - 512 ELSE 0 END) AS BIGINT) AS l512,
              |         CAST(sum(CASE WHEN t > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS o2048,
              |         CAST(sum(CASE WHEN t > 2048 THEN t - 2048 ELSE 0 END) AS BIGINT) AS l2048
              |  FROM per)
              |SELECT context_len, n_docs, n_tokens, n_truncated_docs,
              |       tokens_lost,
              |       floor(CAST(tokens_lost AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS loss_share
              |FROM (
              |  SELECT CAST(128 AS BIGINT) AS context_len, n_docs, n_tokens,
              |         o128 AS n_truncated_docs, l128 AS tokens_lost FROM agg
              |  UNION ALL
              |  SELECT 512, n_docs, n_tokens, o512, l512 FROM agg
              |  UNION ALL
              |  SELECT 2048, n_docs, n_tokens, o2048, l2048 FROM agg)
              |ORDER BY context_len""".stripMargin),
      doc = "truncation-loss ladder (the y10 fill-rate trade priced): " +
        "one tokenize pass to per-doc counts, all conditional sums in a " +
        "single combinable aggregate, stack unpivot to |limits| rows"),

    Q("y13_budget_mix",
      (s, d) => budgetMix(docs(s, d)),
      Some(s"""WITH ${TextAnalysisQueries.statsSqlCte},
              |q AS (SELECT doc_id, n_tokens,
              |             ${TextAnalysisQueries.qualitySqlExpr} AS quality
              |      FROM st),
              |ds AS (SELECT q.doc_id, q.n_tokens, q.quality, d.source
              |       FROM q JOIN documents d ON d.doc_id = q.doc_id),
              |ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens,
              |              floor((${graft.functions.Parity.exactAvgSql("quality")})
              |                    * 1000000.0 + 0.5) / 1000000.0 AS mean_quality
              |       FROM ds GROUP BY 1),
              |tt AS (SELECT CAST(sum(tokens) AS BIGINT) // 2 AS budget FROM ps),
              |cb AS (SELECT source, mean_quality, tokens, budget,
              |              CAST(coalesce(sum(tokens) OVER (
              |                ORDER BY mean_quality DESC, source
              |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |                AS BIGINT) AS cum_before
              |       FROM ps CROSS JOIN tt),
              |tk AS (SELECT source, mean_quality, tokens, cum_before, budget,
              |              CAST(CASE WHEN cum_before >= budget THEN 0
              |                   WHEN cum_before + tokens <= budget THEN tokens
              |                   ELSE budget - cum_before END AS BIGINT) AS take_tokens
              |       FROM cb)
              |SELECT source, mean_quality, tokens, cum_before, budget, take_tokens,
              |       floor(CAST(take_tokens AS DOUBLE) / CAST(tokens AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS take_frac
              |FROM tk ORDER BY mean_quality DESC, source""".stripMargin),
      doc = "greedy token-budget mixing plan (quality-best-first fill of " +
        "a half-corpus budget): one tokenize pass to per-source exact " +
        "stats, cumulative ladder over the |sources| table, boundary " +
        "source gets the partial take_frac for x1's sampler"),

    Q("y14_shard_balance",
      (s, d) => shardBalance(docs(s, d)),
      Some(s"""WITH per AS (
              |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % $DefaultShards AS shard,
              |         CAST(sum(len($toksSql)) AS BIGINT) AS toks,
              |         CAST(count(*) AS BIGINT) AS docs
              |  FROM documents GROUP BY 1)
              |SELECT CAST(count(*) AS BIGINT) AS n_shards,
              |       CAST(sum(docs) AS BIGINT) AS n_docs,
              |       CAST(sum(toks) AS BIGINT) AS n_tokens,
              |       CAST(min(toks) AS BIGINT) AS min_shard_tokens,
              |       CAST(max(toks) AS BIGINT) AS max_shard_tokens,
              |       floor(CAST(max(toks) AS DOUBLE) * CAST(count(*) AS DOUBLE)
              |             / CAST(sum(toks) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS imbalance
              |FROM per""".stripMargin),
      doc = "training-shard balance census (straggler pre-flight for a " +
        "synchronous loader): md5 doc->shard routing, one tokenize pass " +
        "to |shards| rows, 1-row rollup with the max/mean imbalance " +
        "factor; the hash key makes the layout reshuffle-free"),

    Q("y15_shuffle_quality",
      (s, d) => shuffleQuality(docs(s, d)),
      Some(s"""WITH k AS (
              |  SELECT doc_id, source,
              |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS h
              |  FROM documents),
              |kk AS (SELECT doc_id, source, h % $DefaultShards AS shard, h // $DefaultShards AS r
              |       FROM k),
              |lg AS (SELECT source,
              |              lag(source) OVER (PARTITION BY shard
              |                ORDER BY r, doc_id) AS prev
              |       FROM kk),
              |adj AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              |               CAST(sum(CASE WHEN prev = source THEN 1 ELSE 0 END) AS BIGINT) AS n_same
              |        FROM lg WHERE prev IS NOT NULL),
              |ex AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS num,
              |              CAST(sum(c) AS BIGINT) AS n
              |       FROM (SELECT CAST(count(*) AS BIGINT) AS c
              |             FROM documents GROUP BY source) x)
              |SELECT n_pairs, n_same,
              |       floor(cast(n_same as double) / cast(n_pairs as double)
              |             * 1000000.0 + 0.5) / 1000000.0 AS same_rate,
              |       floor(($expectedAdjExpr) * 1000000.0 + 0.5)
              |         / 1000000.0 AS expected_rate,
              |       floor((case when ($expectedAdjExpr) is null
              |               or ($expectedAdjExpr) = 0.0 then cast(null as double)
              |              else (cast(n_same as double) / cast(n_pairs as double))
              |                   / ($expectedAdjExpr) end)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mix_ratio
              |FROM adj CROSS JOIN ex""".stripMargin),
      doc = "shuffle-quality census for the md5 epoch order: adjacent " +
        "same-source rate within loader shards vs the exact " +
        "no-replacement expectation — mix_ratio ~1 well mixed, >>1 " +
        "clumped (curriculum contamination); shard-bounded windows, " +
        "|sources| expectation table"),

    Q("y16_pack_fill_ladder",
      (s, d) => packFillLadder(docs(s, d)),
      Some(s"""WITH t AS (
              |  SELECT lang AS shard, doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
              |  FROM documents),
              |lad AS (
              |  SELECT shard, doc_id, n_toks, budget
              |  FROM t CROSS JOIN (SELECT unnest([${Packing.DefaultBudgetLadder.mkString(", ")}]) AS budget) b),
              |c AS (
              |  SELECT budget, shard, n_toks,
              |         sum(n_toks) OVER (PARTITION BY budget, shard ORDER BY doc_id
              |           ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM lad),
              |bt AS (
              |  SELECT budget, shard, (cum - n_toks) // budget AS batch,
              |         CAST(sum(n_toks) AS BIGINT) AS tok_sum
              |  FROM c GROUP BY 1, 2, 3)
              |SELECT CAST(budget AS BIGINT) AS budget,
              |       CAST(count(*) AS BIGINT) AS n_batches,
              |       CAST(sum(tok_sum) AS BIGINT) AS total_tokens,
              |       CAST(sum(CASE WHEN tok_sum > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_overfull,
              |       floor(CAST(sum(tok_sum) AS DOUBLE)
              |             / CAST(count(*) * budget AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS fill_rate
              |FROM bt GROUP BY bt.budget ORDER BY 1""".stripMargin),
      doc = "y16 packing-efficiency ladder: y10's fill-rate census swept " +
        "over context lengths {512,1k,2k,4k} — the budget-sizing curve " +
        "(fill vs document-length-tail overflow); ONE tokenize pass, the " +
        "ladder explodes the per-doc length table only, |ladder| rows out"),
  )
}
