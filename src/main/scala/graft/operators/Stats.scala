package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.functions.Parity.pround
import graft.plans.Md5Long56.md5Long56

/** Sketch/statistics operators beyond Count-Min (SURVEY.md §2.G [EXT]
  * extension): a HyperLogLog-style distinct counter, exact Pearson
  * correlation, and a Z-order clustering key for multi-dimensional data
  * skipping.
  *
  * All three are built from exact integer arithmetic so the DuckDB
  * oracle reproduces them bit-for-bit:
  *  - the HLL registers use the portable 56-bit md5 hash and a
  *    trailing-zero rank computed with pure integer ops; the harmonic
  *    mean is an exact BIGINT sum of powers of two (scaled by 2^51)
  *    with a single double division at the end;
  *  - correlation sums exact longs and evaluates one fixed IEEE
  *    expression tree over the six moments;
  *  - the Z-order key is a bit-interleave.
  *
  * Design for 100 TB:
  *  - HLL registers ARE mergeable state: per-partition max per register,
  *    then max across partitions — the aggregation is a groupBy(register)
  *    max, which Catalyst executes with map-side partials, so the full
  *    sketch costs one tiny shuffle of <= 64 rows per partition. (The
  *    exact-distinct column next to it is verification-only; at corpus
  *    scale you'd drop it — computing it is the thing HLL avoids.)
  *  - Correlation moments are a single map-side-combinable aggregate.
  *  - Z-ordering is the standard layout trick for two-column min/max
  *    pruning: sort/partition by the interleaved key and BOTH dimensions
  *    stay range-clustered per file, so scans filtering on either column
  *    skip most files. The query reports per-bucket min/max spans —
  *    exactly the file-level statistics a reader would prune on.
  */
object Stats {


  /** HLL-style distinct-word estimate with m=64 registers.
    *
    * Register index = h % 64; rank rho = 1 + trailing-zeros of the
    * remaining 50 bits (rho = 51 when they are all zero). Harmonic
    * denominator: sum over registers of 2^(-M_j), computed exactly as
    * BIGINT sum of 2^(51-M_j) (missing registers contribute 2^51), so
    * the only float ops are the final constant product and division.
    * alpha_64 = 0.709 (Flajolet et al. 2007's alpha_m for m=64). */
  def hllDistinctWords(docs: DataFrame): DataFrame = {
    val words = docs.select(explode(expr(Dedup.tokensExpr)).as("w")).distinct()
    val regs = words
      .select(md5Long56(col("w")).as("h"))
      .select((col("h") % 64).as("j"), expr("h div 64").as("r"))
      .select(col("j"),
        expr("1 + size(filter(sequence(1, 50), k -> r % shiftleft(cast(1 as bigint), k) = 0))")
          .as("rho"))
      .groupBy("j").agg(max(col("rho")).as("m"))
    val pow51 = "shiftleft(cast(1 as bigint), 51)"
    val sketch = regs.agg(
      sum(expr(s"shiftleft(cast(1 as bigint), cast(51 - m as int))")).as("s_present"),
      count(lit(1)).as("nz"))
      .select(
        (col("s_present") + (lit(64L) - col("nz")) * expr(pow51)).as("s_total"),
        col("nz").as("nonzero_registers"))
    val exact = words.agg(count(lit(1)).as("exact_distinct"))
    // Small-range correction (Flajolet et al. §4): when zero registers
    // remain and the raw estimate is under 5/2·m, linear counting
    // m·ln(m/V) is the accurate estimator — without it the raw harmonic
    // formula reads ~2x high on low-cardinality inputs.
    val raw = s"0.709 * 4096.0 * cast($pow51 as double) / cast(s_total as double)"
    val est = s"""CASE WHEN nonzero_registers < 64 AND $raw <= 160.0
                 | THEN 64.0 * ln(64.0 / cast(64 - nonzero_registers as double))
                 | ELSE $raw END""".stripMargin
    exact.crossJoin(sketch).select(
      col("exact_distinct"), col("nonzero_registers"),
      pround(expr(est), 4).as("hll_estimate"))
  }

  /** Per-GROUP HLL distinct estimate — the shape that matters in a
    * pipeline: one mergeable 64-register sketch per group key, all built
    * in a single pass. The aggregation is groupBy(g, register) max then
    * groupBy(g) sum — both map-side combinable, so the shuffle moves at
    * most 64 rows per group per partition regardless of input size. The
    * exact count-distinct column alongside is verification-only (it is
    * the expensive thing the sketch replaces). Same estimator as
    * [[hllDistinctWords]], including the linear-counting small-range
    * correction, applied independently per group. */
  def hllDistinctPerGroup(df: DataFrame, groupCol: String,
                          valueCol: String): DataFrame = {
    val vals = df.select(col(groupCol).as("g"),
      col(valueCol).cast("string").as("v")).distinct()
    val regs = vals
      .select(col("g"), md5Long56(col("v")).as("h"))
      .select(col("g"), (col("h") % 64).as("j"), expr("h div 64").as("r"))
      .select(col("g"), col("j"),
        expr("1 + size(filter(sequence(1, 50), k -> r % shiftleft(cast(1 as bigint), k) = 0))")
          .as("rho"))
      .groupBy("g", "j").agg(max(col("rho")).as("m"))
    val pow51 = "shiftleft(cast(1 as bigint), 51)"
    val sketch = regs.groupBy("g").agg(
      sum(expr(s"shiftleft(cast(1 as bigint), cast(51 - m as int))")).as("s_present"),
      count(lit(1)).as("nz"))
      .select(col("g"),
        (col("s_present") + (lit(64L) - col("nz")) * expr(pow51)).as("s_total"),
        col("nz").as("nonzero_registers"))
    val exact = vals.groupBy("g").agg(count(lit(1)).as("exact_distinct"))
    val raw = s"0.709 * 4096.0 * cast($pow51 as double) / cast(s_total as double)"
    val est = s"""CASE WHEN nonzero_registers < 64 AND $raw <= 160.0
                 | THEN 64.0 * ln(64.0 / cast(64 - nonzero_registers as double))
                 | ELSE $raw END""".stripMargin
    exact.join(sketch, "g").select(
      col("g").as(groupCol), col("exact_distinct"), col("nonzero_registers"),
      pround(expr(est), 4).as("hll_estimate"))
  }

  /** Exact Pearson correlation between two integer columns via the six
    * moments (all exact longs), one fixed float expression at the end.
    * Built-in corr() is a float accumulation — order-dependent, so never
    * oracle-stable; this is the portable formulation.
    *
    * Domain bound: the scalar products n·sxx and sx² must stay under
    * 2^63 — holds while n·(max|x|·max|y|)² < 9.2e18 (e.g. 1e12 rows of
    * values up to ~1700). Beyond that, cast the six moments to
    * DECIMAL(38,0) before the products; the division at the end is
    * unchanged. */
  def corrExact(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_rows"),
        pround(expr(
          """cast(n * sxy - sx * sy as double) /
            |  (sqrt(cast(n * sxx - sx * sx as double)) *
            |   sqrt(cast(n * syy - sy * sy as double)))""".stripMargin), 6)
          .as("corr"))

  /** 8-bit-per-dimension Z-order (Morton) key: bits of x land on even
    * positions, bits of y on odd. Pure integer arithmetic (shared
    * generator with the DuckDB mirror via [[zorderTerms]]). */
  def zorderKeyExpr(x: String, y: String): String = zorderTerms(x, y, "div")

  /** The interleave polynomial with a pluggable integer-division operator
    * ("div" for Spark, "//" for DuckDB) so both engines evaluate the
    * identical term list. */
  def zorderTerms(x: String, y: String, divOp: String): String =
    (0 until 8).flatMap { b =>
      Seq(s"(($x $divOp ${1L << b}) % 2) * ${1L << (2 * b)}",
        s"(($y $divOp ${1L << b}) % 2) * ${1L << (2 * b + 1)}")
    }.mkString(" + ")

  /** Z-order clustering demo over events: key on (user_id mod 256,
    * floor(value) mod 256), bucket into 64 coarse ranges of the z-key,
    * and report each bucket's span in BOTH source dimensions — small
    * spans on both axes are what make min/max file pruning effective on
    * either filter column. */
  def zorderClustering(events: DataFrame): DataFrame =
    events.select(
      (col("user_id") % 256).as("x"),
      (floor(col("value")).cast("long") % 256).as("y"))
      .select(col("x"), col("y"),
        expr(zorderKeyExpr("x", "y")).as("zkey"))
      // integer division on both engines — a double divide + cast would
      // trunc in Spark but round in DuckDB at bucket boundaries
      .groupBy(expr("zkey div 1024").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of two event types.
    *
    * Values are quantized to integer cents FIRST (round-half-up, the
    * parity discipline), which bounds the CDF domain regardless of input
    * row count: the heavy per-bin counting is one map-side-combinable
    * aggregate over the facts, and the cumulative-sum window then runs
    * over at most ~50k bin rows — a constant — so the global (empty
    * partitionBy) window is NOT a scale hazard here, unlike a window
    * over raw rows. The gap is |F_a - F_b| per bin with one double
    * division per side; the statistic is the max gap, reported with the
    * smallest bin attaining it.
    */
  def ksTwoSample(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val binned = events
      .where(col("event_type").isin(typeA, typeB))
      .select(expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("cents"),
        col("event_type"))
      .groupBy("cents")
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = binned.agg(
      sum("na").cast("long").as("ta"), sum("nb").cast("long").as("tb"))
    val gaps = binned
      .select(col("cents"), sum("na").over(w).as("ca"), sum("nb").over(w).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("cents"), col("ta"), col("tb"),
        pround(abs(col("ca").cast("double") / col("ta").cast("double") -
          col("cb").cast("double") / col("tb").cast("double")), 9).as("gap"))
    val mx = gaps.agg(max("gap").as("ks_stat"))
    gaps.crossJoin(broadcast(mx))
      .where(col("gap") === col("ks_stat"))
      .groupBy(col("ta").as("n_a"), col("tb").as("n_b"), col("ks_stat"))
      .agg(min("cents").as("ks_at_cents"))
  }

  /** Full chi-square contingency table for lang × source: one row per
    * grid cell (zero-observed cells included — they carry weight e in
    * the statistic), with observed count, expected count, and the cell's
    * chi2 contribution.
    *
    * Scale shape: the only pass over the data is the (lang, source)
    * count — map-side combinable. Marginals reduce the counted grid
    * (|langs| × |sources| rows, a bounded constant), and the full grid
    * is a broadcast cross of the two marginal vectors — no second fact
    * scan, no shuffle beyond the first count.
    */
  def chi2Contingency(docs: DataFrame): DataFrame = {
    val cnt = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rl = cnt.groupBy("lang").agg(sum("o").cast("long").as("rt"))
    val cs = cnt.groupBy("source").agg(sum("o").cast("long").as("ct"))
    val nn = cnt.agg(sum("o").cast("long").as("n"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val obs = coalesce(col("o"), lit(0L)).cast("double")
    broadcast(rl).crossJoin(broadcast(cs)).crossJoin(broadcast(nn))
      .join(cnt, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"),
        coalesce(col("o"), lit(0L)).as("observed"),
        pround(e, 6).as("expected"),
        pround((obs - e) * (obs - e) / e, 9).as("chi2_contrib"))
  }

  /** The chi-square statistic itself plus degrees of freedom. Per-cell
    * contributions are rounded to fixed scale and summed as DECIMAL —
    * exact and addition-order-independent, so the scalar doesn't depend
    * on partitioning (a raw double sum would). */
  def chi2Total(docs: DataFrame): DataFrame =
    chi2Contingency(docs)
      .agg(
        sum(col("chi2_contrib").cast(DecimalType(28, 9))).cast("double")
          .as("chi2"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1))
          .as("dof"))

  /** x39: Cramér's V — the [0,1]-normalized effect size of the x21
    * chi-square: chi2 says WHETHER lang and source are associated, V
    * says HOW STRONGLY, comparably across tables of different size and
    * shape (the number a mixture report actually prints).
    *
    * Same single count pass as x20/x21; V is one shared IEEE tree over
    * the exact decimal chi2 sum, the exact row total, and the bounded
    * grid dimensions. A degenerate 1×k grid has no defined V —
    * CASE-guarded null. */
  def cramersV(docs: DataFrame): DataFrame =
    chi2Contingency(docs)
      .agg(
        sum(col("chi2_contrib").cast(DecimalType(28, 9))).cast("double")
          .as("chi2"),
        sum("observed").cast("long").as("n"),
        countDistinct("lang").as("r"), countDistinct("source").as("c"))
      .select(col("n").as("n_docs"), pround(col("chi2"), 9).as("chi2"),
        pround(expr(cramersVExpr), 9).as("cramers_v"))

  // min(r-1, c-1) = 0 (a 1×k grid) leaves V undefined: guarded null.
  private[operators] val cramersVExpr =
    "(case when least(r - 1, c - 1) = 0 or n = 0 then cast(null as double) " +
      "else sqrt(chi2 / (cast(n as double) * cast(least(r - 1, c - 1) as double))) end)"

  /** Per-group distribution moments (mean, variance, skewness) from
    * exact integer power sums of the cent-quantized value — the
    * one-pass, mergeable shape of a distribution profiler: each
    * partition contributes (n, Σc, Σc², Σc³) and the merge is addition.
    * Sums are DECIMAL(38,0): a LongType Σc³ silently wraps around
    * ~10^5 rows per group at cent scale, so the decimal sum IS the
    * scale path, not pedantry. The moment arithmetic is one fixed IEEE
    * tree over the (identical) double casts; x^1.5 is sqrt(x)·x —
    * sqrt is IEEE-correctly-rounded, unlike pow, so no libm drift. */
  def groupMoments(events: DataFrame, group: String): DataFrame = {
    val c = expr("cast(floor(value * 100.0 + 0.5) as bigint)")
    val dec = DecimalType(38, 0)
    val a1 = col("m1").cast("double") / col("n").cast("double")
    val a2 = col("m2").cast("double") / col("n").cast("double")
    val a3 = col("m3").cast("double") / col("n").cast("double")
    val ctr = a2 - a1 * a1
    events
      .select(col(group), c.as("c"))
      .groupBy(group)
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("m1"),
        sum((col("c") * col("c")).cast(dec)).as("m2"),
        sum((col("c") * col("c") * col("c")).cast(dec)).as("m3"))
      .select(col(group), col("n"),
        pround(a1 / 100.0, 6).as("mean_val"),
        pround(ctr / 10000.0, 6).as("var_val"),
        pround((a3 - lit(3.0) * a1 * a2 + lit(2.0) * a1 * a1 * a1) /
          (ctr * sqrt(ctr)), 6).as("skewness"))
  }

  /** Pairwise Welch's t-test between every pair of groups — "did source
    * A's document lengths shift vs source B's?", the unequal-variance
    * two-sample test a curation pipeline runs after every re-crawl.
    *
    * Scale shape: ONE map-side-combinable pass over the facts reduces to
    * a |groups|-row moment table (n, Σx, Σx² as exact BIGINTs); the
    * pairwise grid is a self-join of that bounded table (|groups|²/2
    * rows), so the fact scan never repeats and nothing fact-sized
    * shuffles. t and the Welch–Satterthwaite dof are one fixed IEEE
    * expression tree over the exact moments, mirrored textually in the
    * oracle SQL.
    *
    * Domain bound: the squared moment Σx² accumulates in DECIMAL(38,0)
    * (the [[groupMoments]] discipline — a BIGINT sum would WRAP silently
    * in Spark at warehouse row counts while the DuckDB oracle raises);
    * the per-row product stays long (values are bounded, the risk is
    * the sum). */
  def welchTPairwise(df: DataFrame, group: String, value: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val mo = df.select(col(group).as("g"), col(value).cast("long").as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
    mo.as("a").join(mo.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        pround(expr(welchTExpr), 6).as("t_stat"),
        pround(expr(welchDofExpr), 4).as("dof"))
  }

  /** x62: delta-method confidence interval for a RATIO metric —
    * revenue per event, computed the way experiments must: the unit of
    * randomization is the USER, and events cluster within users, so
    * naive per-event variance understates the error. Linearization:
    * R = Σx/Σy over per-user (x = revenue, y = events);
    * Var(R) ≈ Σ(x_i − R·y_i)² · n / ((n−1)·(Σy)²) — the residual term
    * expands to Σx² − 2RΣxy + R²Σy², all five moments exact integers
    * (squared moments in DECIMAL(38,0) — see below) from ONE user_id
    * reduction; only the final 1-row tree is IEEE.
    * 95% CI via ±1.959964·se. */
  def ratioCi(events: DataFrame): DataFrame = {
    // squared moments accumulate in DECIMAL(38,0) — per-user cent/count
    // products fit a long, but their corpus-wide SUM would silently wrap
    // Spark's BIGINT at warehouse scale (the ccfLadder discipline)
    val dec = DecimalType(38, 0)
    val per = events.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
          expr("cast(floor(value * 100.0 + 0.5) as bigint)")).otherwise(0L))
          .as("x"),
        count(lit(1)).as("y"))
    per.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
      .select(col("n").as("n_users"), col("sx").as("rev_cents"),
        col("sy").as("n_events"),
        pround(expr(ratioExpr), 9).as("ratio"),
        pround(expr(ratioSeExpr), 9).as("se"),
        pround(expr(s"($ratioExpr) - 1.959964 * ($ratioSeExpr)"), 9)
          .as("ci_lo"),
        pround(expr(s"($ratioExpr) + 1.959964 * ($ratioSeExpr)"), 9)
          .as("ci_hi"))
  }

  /** x66: delete-one-DAY (block) jackknife SE for the revenue-per-event
    * ratio — the resampling counterpart of x62's analytic delta-method
    * CI: instead of linearizing, recompute the ratio n times with one
    * day's block deleted and read the spread. Days (not users) are the
    * blocks, so the SE absorbs within-day correlation the user-level
    * delta method can't see — the x63/x55 autocorrelation story applied
    * to uncertainty. When x62 and x66 disagree, trust the wider one.
    *
    * Determinism: each leave-one-out ratio R_(d) = (Sx−x_d)/(Sy−y_d) is
    * one IEEE division of exact integers, pico-quantized (12 dp) to a
    * BIGINT pseudo-value; Σr and Σr² accumulate as DECIMAL(38,0) —
    * order-free — and the SE is one shared IEEE tree over those exact
    * moments. A day holding ALL events (Sy − y_d = 0) has no defined
    * pseudo-value and drops from n_valid (guarded).
    *
    * Scale shape: facts reduce ONCE to the calendar-bounded day table;
    * totals ride back broadcast; the jackknife is |days| arithmetic
    * rows — no second fact pass, no explode. */
  def jackknifeRatio(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("x"), count(lit(1)).as("y"))
    val tot = daily.agg(sum("x").as("sx"), sum("y").as("sy"),
      count(lit(1)).as("nd"))
    val ps = daily.crossJoin(broadcast(tot))
      .select(col("nd"), col("sx"), col("sy"),
        when(col("sy") - col("y") > 0,
          expr("cast(floor(cast(sx - x as double) / cast(sy - y as double) " +
            "* 1000000000000.0) as bigint)")).as("r12"))
    val mo = ps.agg(max("nd").as("n_days"), count(col("r12")).as("n_valid"),
      max("sx").as("sx"), max("sy").as("sy"),
      coalesce(sum(col("r12").cast(dec)), lit(0L).cast(dec)).as("sr"))
    // centered squared sum Σ(n·r_d − Σr)² as EXACT decimals — the naive
    // Σr² − (Σr)²/n form cancels catastrophically in doubles at these
    // magnitudes (a constant series must give EXACTLY zero). Overflow
    // guard (ADVICE r12): the centered term n·r_d − Σr fits DECIMAL(38,0)
    // comfortably (≤ ~1e22 at pico quantization) but its SQUARE can pass
    // 38 digits on a heavy-tailed corpus (one whale day swinging the
    // leave-one-out ratio by ~1e7/n_days). Under ANSI (Spark 4 default)
    // the plain square would ABORT the query; with ANSI off it would
    // silently null the row and sum() would understate css. try_multiply
    // nulls the term deterministically in both modes, css_n counts the
    // surviving terms, and the SE tree nulls itself when css_n ≠ n_valid
    // or the try_sum itself overflowed — a null SE, never a wrong one
    // (DuckDB's HUGEINT raises at the same magnitude: both engines
    // refuse to emit an understated SE).
    val dev = col("r12").cast(dec) * col("n_valid") - col("sr")
    val devSq = try_multiply(dev, dev)
    ps.where(col("r12").isNotNull)
      .crossJoin(broadcast(mo))
      .agg(try_sum(devSq).as("css"), count(devSq).as("css_n"))
      .crossJoin(broadcast(mo))
      .select(col("n_days"), col("n_valid"),
        pround(expr(ratioExpr), 9).as("ratio"),
        pround(expr(jackSeExpr), 9).as("se_jack"),
        pround(expr(s"($ratioExpr) - 1.959964 * ($jackSeExpr)"), 9).as("ci_lo"),
        pround(expr(s"($ratioExpr) + 1.959964 * ($jackSeExpr)"), 9).as("ci_hi"))
  }

  // Block-jackknife SE tree over the exact centered pseudo-value sum,
  // shared verbatim with the x66 oracle:
  // se² = (n−1)/n · Σ(R_(d) − R̄)² = (n−1)/n · css/(n²·1e24), with
  // css = Σ(n·r_d − Σr)² accumulated as EXACT decimals (one small
  // double at the end — no large-magnitude cancellation); fewer than 2
  // valid pseudo-values → null, and a detected per-row decimal overflow
  // (css_n ≠ n_valid — Spark nulls the row past 38 digits) → null
  // rather than a silently understated SE.
  private[operators] val jackSeExpr =
    "(case when n_valid < 2 or css_n <> n_valid then cast(null as double) else " +
      "sqrt(cast(n_valid - 1 as double) / cast(n_valid as double) " +
      "* (cast(css as double) " +
      "/ (cast(n_valid as double) * cast(n_valid as double) * 1e24))) end)"

  // Ratio + delta-method SE trees over the five exact moments, shared
  // verbatim with the oracle; degenerate designs (no events, a single
  // user) guard to null.
  private[operators] val ratioExpr =
    "(case when sy = 0 then cast(null as double) " +
      "else cast(sx as double) / cast(sy as double) end)"
  private[operators] val ratioSeExpr =
    s"(case when sy = 0 or n < 2 then cast(null as double) else " +
      s"sqrt((cast(sxx as double) - 2.0 * ($ratioExpr) * cast(sxy as double) " +
      s"+ ($ratioExpr) * ($ratioExpr) * cast(syy as double)) " +
      "* cast(n as double) " +
      "/ (cast(n - 1 as double) * cast(sy as double) * cast(sy as double))) " +
      "end)"

  /** x61: Cohen's d effect sizes for every source pair — x24's Welch t
    * answers "is the difference real?"; d answers "is it BIG?"
    * (t grows with √n, so at corpus scale everything is significant
    * and only the standardized effect size ranks what matters). Same
    * exact-moment kernel as x24: one groupBy to |groups| (n, Σx, Σx²)
    * rows, pairwise join over the tiny group table, pooled-SD d on a
    * shared IEEE tree with small-sample/zero-variance null guards. */
  def cohensDPairwise(df: DataFrame, group: String, value: String): DataFrame = {
    val dec = DecimalType(38, 0) // Σx² in decimal — see welchTPairwise
    val mo = df.select(col(group).as("g"), col(value).cast("long").as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
    mo.as("a").join(mo.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        pround(expr(cohenDExpr), 6).as("cohens_d"))
  }

  private def sampVar(t: String) =
    s"((cast($t.n as double) * cast($t.sxx as double) " +
      s"- cast($t.sx as double) * cast($t.sx as double)) " +
      s"/ (cast($t.n as double) * cast($t.n - 1 as double)))"
  private val pooledVar =
    s"((cast(a.n - 1 as double) * ${sampVar("a")} " +
      s"+ cast(b.n - 1 as double) * ${sampVar("b")}) " +
      "/ cast(a.n + b.n - 2 as double))"
  private[operators] val cohenDExpr =
    s"(case when a.n < 2 or b.n < 2 or ($pooledVar) <= 0.0 " +
      "then cast(null as double) else " +
      "(cast(a.sx as double) / cast(a.n as double) " +
      "- cast(b.sx as double) / cast(b.n as double)) " +
      s"/ sqrt($pooledVar) end)"

  // The t / dof expression strings are shared verbatim with the DuckDB
  // oracle (lowercase cast() parses on both engines): IEEE double ops are
  // deterministic, so an identical expression TREE guarantees identical
  // doubles — a re-derivation with different association would not.
  private def welchMean(t: String) =
    s"cast($t.sx as double) / cast($t.n as double)"
  private def welchVar(t: String) =
    s"(cast($t.sxx as double) - cast($t.sx as double) * cast($t.sx as double) / cast($t.n as double)) / cast($t.n - 1 as double)"
  private def welchSe2(t: String) = s"(${welchVar(t)}) / cast($t.n as double)"
  private val welchSe = s"(${welchSe2("a")} + ${welchSe2("b")})"
  private[operators] val welchTExpr =
    s"((${welchMean("a")}) - (${welchMean("b")})) / sqrt($welchSe)"
  private[operators] val welchDofExpr =
    s"($welchSe * $welchSe) / " +
      s"((${welchSe2("a")}) * (${welchSe2("a")}) / cast(a.n - 1 as double) + " +
      s"(${welchSe2("b")}) * (${welchSe2("b")}) / cast(b.n - 1 as double))"

  /** Gini coefficient of per-user total event value — the revenue/token
    * concentration census ("what fraction of the corpus comes from the
    * top users?") that decides whether a per-user cap is needed before
    * training-mix assembly.
    *
    * Scale shape (the x19 KS discipline applied to inequality): per-user
    * totals are ONE combinable aggregate; totals are then quantized to
    * whole units and counted per unit value, so the sorted-prefix pass —
    * the part that needs a global order — runs over the BINNED value
    * domain, not the user rows. From binned counts the pair-sum
    * telescopes: G = Σ_b c_b·(x_b·C_{<b} − T_{<b}) / (n·S), with every
    * term an exact integer (DECIMAL(38,0) accumulators — n·S overflows
    * long at warehouse scale) and one double division at the end. The
    * unit quantization is the domain-bounding knob: coarsen it and the
    * window input shrinks; the heavy passes are untouched. */
  def giniUserValue(events: DataFrame): DataFrame = {
    // operands pre-cast to DECIMAL(18,0) so every product stays inside
    // Spark's 38-digit cap (the DuckDB mirror uses HUGEINT — both sides
    // are exact integer arithmetic, so the values agree regardless of
    // the container type)
    val dec = DecimalType(18, 0)
    val bins = events
      .select(col("user_id"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("user_id").agg(sum("c").as("cents"))
      .select(expr("cents div 100").as("u"))
      .groupBy("u").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ux = col("u").cast(dec) * col("cnt").cast(dec)
    val cum = bins
      .select(col("u"), col("cnt"),
        (sum("cnt").over(w) - col("cnt")).as("cp"),
        (sum(ux).over(w) - ux).as("tp"))
    cum
      .agg(sum("cnt").as("n_users"),
        sum(ux).as("s_units"),
        sum(col("cnt").cast(dec) *
          (col("u").cast(dec) * col("cp").cast(dec) - col("tp"))).as("p"))
      .select(col("n_users"),
        col("s_units").cast("long").as("total_units"),
        pround(expr("cast(p as double) / (cast(n_users as double) * cast(s_units as double))"), 9)
          .as("gini"))
  }

  /** x27: CUPED variance reduction (Deng/Xu/Kohavi/Walker, WSDM'13) —
    * the experimentation-platform workhorse: adjust each user's
    * experiment-period metric y by their PRE-period metric x,
    * y' = y − θ·(x − mean(x)) with θ = cov(x,y)/var(x), which shrinks
    * metric variance by the squared pre/post correlation without biasing
    * the treatment contrast. Variants here are a deterministic hash
    * split (user_id % 2 — the standard bucketing shape); θ is pooled
    * across variants, as CUPED prescribes.
    *
    * Scale shape: ONE pass over the facts builds per-user (pre, post)
    * cent totals — combinable conditional sums; everything downstream
    * is exact BIGINT moments (global: one row; per-variant: |variants|
    * rows) and one fixed IEEE tree per output, shared textually with
    * the oracle. Nothing fact-sized survives the first aggregate.
    * Domain bound: Σx² under 2^63 holds to ~3e7 users at 5e5-cent
    * per-user totals; at warehouse scale cast the moments to
    * DECIMAL(38,0) as [[groupMoments]] does. */
  def cupedByVariant(events: DataFrame,
                     splitTs: String = "2024-01-16 00:00:00"): DataFrame = {
    val user = events
      .select(col("user_id"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"),
        expr(s"ts < timestamp_ntz'$splitTs'").as("pre"))
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("c")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("c")).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
    val g = user.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val v = user.groupBy("variant").agg(count(lit(1)).as("nv"),
      sum("x").as("svx"), sum("y").as("svy"),
      sum(col("x") * col("x")).as("svxx"),
      sum(col("y") * col("y")).as("svyy"),
      sum(col("x") * col("y")).as("svxy"))
    v.crossJoin(broadcast(g))
      .select(col("variant"), col("nv").as("n_users"),
        pround(expr(cupedTheta), 9).as("theta"),
        pround(expr(cupedMeanRaw), 6).as("mean_raw"),
        pround(expr(cupedMeanAdj), 6).as("mean_adj"),
        pround(expr(cupedVarRaw), 6).as("var_raw"),
        pround(expr(cupedVarAdj), 6).as("var_adj"))
      .orderBy("variant")
  }

  // CUPED expression strings, shared verbatim with the DuckDB oracle
  // (the welch discipline: identical IEEE trees on identical integer
  // moments give identical doubles).
  private val cupedMx = "(cast(sx as double) / cast(n as double))"
  private[operators] val cupedTheta =
    "((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
      "(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)))"
  private[operators] val cupedMeanRaw =
    "cast(svy as double) / cast(nv as double) / 100.0"
  private val cupedSadj =
    s"(cast(svy as double) - $cupedTheta * (cast(svx as double) - cast(nv as double) * $cupedMx))"
  private[operators] val cupedMeanAdj =
    s"$cupedSadj / cast(nv as double) / 100.0"
  private[operators] val cupedVarRaw =
    "(cast(svyy as double) - cast(svy as double) * cast(svy as double) / cast(nv as double)) / cast(nv as double) / 10000.0"
  private val cupedSadj2 =
    s"(cast(svyy as double) - 2.0 * $cupedTheta * (cast(svxy as double) - $cupedMx * cast(svy as double)) + " +
      s"$cupedTheta * $cupedTheta * (cast(svxx as double) - 2.0 * $cupedMx * cast(svx as double) + cast(nv as double) * $cupedMx * $cupedMx))"
  private[operators] val cupedVarAdj =
    s"($cupedSadj2 - $cupedSadj * $cupedSadj / cast(nv as double)) / cast(nv as double) / 10000.0"

  /** Shared HLL estimator structure (same tree as [[hllDistinctWords]],
    * including the linear-counting small-range correction); the 2^51
    * constant needs per-engine spelling (`pow51d`): a bare decimal
    * literal would be DECIMAL in DuckDB and overflow its multiply, so
    * both engines cast their native bit-shift to double — the x4/x10
    * proven form. */
  private[operators] def hllEstSql(s: String, nz: String,
                                   pow51d: String): String = {
    val raw = s"0.709 * 4096.0 * $pow51d / cast($s as double)"
    s"CASE WHEN $nz < 64 AND $raw <= 160.0 " +
      s"THEN 64.0 * ln(64.0 / cast(64 - $nz as double)) ELSE $raw END"
  }
  private[operators] val hllPow51Spark =
    "cast(shiftleft(cast(1 as bigint), 51) as double)"
  private[operators] val hllPow51Duck =
    "CAST((1::BIGINT << 51) AS DOUBLE)"

  /** x26: HLL set algebra — per-group sketches PLUS their pairwise
    * unions (register-wise max) and inclusion-exclusion intersections,
    * with exact counts alongside for verification. This is the property
    * that makes sketches warehouse-native: "distinct users in A∪B" is
    * answered by MERGING two 64-register summaries — no re-scan of
    * either side's facts, which is also exactly how partial sketches
    * combine across partitions/days at 100 TB.
    *
    * Scale shape: ONE combinable pass builds all register tables; the
    * dense (group × 64) grid, the pairwise max-merge, and the estimate
    * arithmetic are all |groups|-bounded. The exact columns cost a
    * distinct + a value self-join and exist only to let the gate verify
    * the estimates; at corpus scale they are the thing the sketch
    * replaces. Inclusion-exclusion can go negative on tiny overlaps —
    * reported as-is, the standard caveat. */
  def hllSetAlgebra(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val vals = df.select(col(groupCol).as("g"),
      col(valueCol).cast("string").as("v")).distinct()
    val regs = vals
      .select(col("g"), md5Long56(col("v")).as("h"))
      .select(col("g"), (col("h") % 64).as("j"), expr("h div 64").as("r"))
      .select(col("g"), col("j"),
        expr("1 + size(filter(sequence(1, 50), k -> r % shiftleft(cast(1 as bigint), k) = 0))")
          .as("rho"))
      .groupBy("g", "j").agg(max(col("rho")).as("m"))
    val dense = vals.select("g").distinct()
      .select(col("g"), explode(expr("sequence(0, 63)")).as("j"))
      .join(regs, Seq("g", "j"), "left")
      .select(col("g"), col("j"), coalesce(col("m"), lit(0)).as("m"))
    val pow = "shiftleft(cast(1 as bigint), cast(51 - m as int))"
    val singles = dense.groupBy("g").agg(
      sum(expr(pow)).as("s"),
      sum(when(col("m") > 0, 1L).otherwise(0L)).as("nz"))
    val unionSk = dense.as("a")
      .join(dense.as("b"), col("a.g") < col("b.g") && col("a.j") === col("b.j"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"),
        greatest(col("a.m"), col("b.m")).as("m"))
      .groupBy("ga", "gb").agg(
        sum(expr(pow)).as("su"),
        sum(when(col("m") > 0, 1L).otherwise(0L)).as("nzu"))
    val exact = vals.groupBy("g").agg(count(lit(1)).as("exact"))
    val exactInter = vals.as("x")
      .join(vals.as("y"), col("x.v") === col("y.v") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("ga"), col("y.g").as("gb"))
      .agg(count(lit(1)).as("ei"))
    val POW = hllPow51Spark
    singles.as("a").join(singles.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"),
        col("a.s").as("sa"), col("a.nz").as("nza"),
        col("b.s").as("sb"), col("b.nz").as("nzb"))
      .join(unionSk, Seq("ga", "gb"))
      .join(exact.select(col("g").as("ga"), col("exact").as("exact_a")), Seq("ga"))
      .join(exact.select(col("g").as("gb"), col("exact").as("exact_b")), Seq("gb"))
      .join(exactInter, Seq("ga", "gb"), "left")
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("exact_a"), col("exact_b"),
        coalesce(col("ei"), lit(0L)).as("exact_inter"),
        pround(expr(hllEstSql("sa", "nza", POW)), 4).as("hll_a"),
        pround(expr(hllEstSql("sb", "nzb", POW)), 4).as("hll_b"),
        pround(expr(hllEstSql("su", "nzu", POW)), 4).as("hll_union"),
        pround(expr(s"(${hllEstSql("sa", "nza", POW)}) + (${hllEstSql("sb", "nzb", POW)}) - (${hllEstSql("su", "nzu", POW)})"), 4)
          .as("hll_intersect"))
  }

  /** x28: Mann-Whitney U (Wilcoxon rank-sum) between two event-type
    * value distributions — the nonparametric complement to Welch's t
    * (x24): no normality assumption, so it is the robust choice when
    * metric distributions are heavy-tailed (revenue, latency).
    *
    * Scale shape (the x25 Gini discipline applied to ranks): values are
    * quantized to cents and counted per distinct cent value, so the one
    * rank-assigning window runs over the BINNED value domain (≤ |value
    * range| rows), never the observation rows. Tied observations get the
    * textbook average rank, kept exact by working in doubled units:
    * 2·R_a = Σ_v ca(v)·(2·cp(v) + cnt(v) + 1) is an exact integer
    * (DECIMAL(38,0) accumulators), as is the tie-correction term
    * Σ(t³−t). One shared-text IEEE tree turns the exact moments into
    * the normal-approximation z with tie correction. */
  def mannWhitneyU(events: DataFrame, groupCol: String = "event_type",
                   groupA: String = "click", groupB: String = "purchase",
                   value: String = "value"): DataFrame = {
    val dec = DecimalType(38, 0)
    val bins = events
      .where(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"),
        expr(s"cast(floor($value * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("v")
      .agg(sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === groupB, 1L).otherwise(0L)).as("cb"))
    // global window over cent-value bins — bounded by the value domain,
    // not the row count (the x25 discipline)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = bins
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cp", sum(col("cnt")).over(w) - col("cnt"))
    ranked.agg(
      sum("ca").as("na"), sum("cb").as("nb"),
      sum(col("ca").cast(dec) *
        (lit(2) * col("cp") + col("cnt") + 1).cast(dec)).as("r2a"),
      sum(col("cnt").cast(dec) * col("cnt").cast(dec) * col("cnt").cast(dec)
        - col("cnt").cast(dec)).as("tt"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        expr(mwUExpr).as("u_a"),
        pround(expr(mwZExpr), 6).as("z"))
  }

  // Mann-Whitney expression strings, shared verbatim with the oracle
  // (welch discipline). r2a is 2·(rank sum of group a); u_a = R_a −
  // n_a(n_a+1)/2 stays a multiple of 0.5 — exact in double. Degenerate
  // inputs (an empty group, or every observation tied) have no defined
  // z — the CASE guards return null instead of tripping ANSI-mode
  // divide-by-zero, and guard FIRST so the tie term never sees N < 2.
  private val mwN = "(cast(na as double) + cast(nb as double))"
  private val mwU2a =
    "(cast(r2a as double) - cast(na as double) * (cast(na as double) + 1.0))"
  private[operators] val mwUExpr = s"$mwU2a / 2.0"
  private val mwVar =
    s"(cast(na as double) * cast(nb as double) / 12.0 * " +
      s"($mwN + 1.0 - cast(tt as double) / ($mwN * ($mwN - 1.0))))"
  private[operators] val mwZExpr =
    s"(case when cast(na as double) * cast(nb as double) = 0.0 or $mwN < 2.0 " +
      s"then cast(null as double) when $mwVar <= 0.0 then cast(null as double) " +
      s"else ($mwU2a / 2.0 - cast(na as double) * cast(nb as double) / 2.0) / " +
      s"sqrt($mwVar) end)"

  /** x29: per-group ordinary least squares (price on quantity per return
    * flag) — the regression-moment pattern every feature-attribution /
    * trend query reduces to: slope, intercept and R² from five
    * combinable sums.
    *
    * Scale shape: ONE map-side-combinable aggregate per group builds
    * exact integer moments (DECIMAL(38,0) — n·Σxy overflows BIGINT at
    * warehouse row counts); the normal-equation numerator/denominator
    * stay exact integers, and each output is one fixed IEEE tree shared
    * textually with the oracle. Nothing row-sized survives the first
    * aggregate, and adding groups only widens the |groups|-row result. */
  def olsPriceOnQty(lineitem: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val mo = lineitem
      .select(col("l_returnflag").as("flag"),
        expr("cast(floor(l_quantity + 0.5) as bigint)").as("x"),
        expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)").as("y"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    mo.select(col("flag"), col("n"),
      (col("n").cast(dec) * col("sxy") - col("sx") * col("sy")).as("num"),
      (col("n").cast(dec) * col("sxx") - col("sx") * col("sx")).as("den"),
      (col("n").cast(dec) * col("syy") - col("sy") * col("sy")).as("deny"),
      col("sx"), col("sy"))
      .select(col("flag"), col("n"),
        pround(expr(olsSlope), 6).as("slope_cents_per_unit"),
        pround(expr(olsIntercept), 4).as("intercept_cents"),
        pround(expr(olsR2), 9).as("r2"))
      .orderBy("flag")
  }

  // Zero x-variance (den) or y-variance (deny) leaves the fit undefined:
  // CASE-guarded nulls, not ANSI divide-by-zero (n >= 1 by construction).
  private[operators] val olsSlope =
    "(case when cast(den as double) = 0.0 then cast(null as double) " +
      "else cast(num as double) / cast(den as double) end)"
  private[operators] val olsIntercept =
    s"((cast(sy as double) - $olsSlope * cast(sx as double)) / cast(n as double))"
  private[operators] val olsR2 =
    "(case when cast(den as double) * cast(deny as double) = 0.0 " +
      "then cast(null as double) else " +
      "(cast(num as double) * cast(num as double)) / " +
      "(cast(den as double) * cast(deny as double)) end)"

  /** x30: lag-1 autocorrelation of the daily revenue series — the
    * day-over-day persistence statistic behind trend/seasonality checks
    * and anomaly alert thresholds.
    *
    * Scale shape: the fact table reduces to one row per DAY in a single
    * combinable aggregate; the lag pairing is an equi-join on day+1 over
    * that calendar-bounded table (explicitly skipping gap days rather
    * than treating a gap as adjacency), so nothing row-sized is ever
    * windowed or shuffled twice. Pearson over the pairs is the exact
    * integer-moment + shared-IEEE-tree pattern (x5/x24/x29). */
  def dailyRevenueAutocorr(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val pairs = daily.as("t")
      .join(daily.as("u"), col("u.day") === col("t.day") + 1)
      .select(col("t.rev").as("x"), col("u.rev").as("y"))
    pairs.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .select(col("n").as("n_pairs"),
        pround(expr(acf1Expr), 9).as("autocorr_lag1"))
  }

  /** x47: autocorrelation ladder — x30's lag-1 read generalized to lags
    * 1..7 in ONE pass: each day row fans out to its 7 future probe days
    * (a bounded 7× widening of the |days| table, the f12 discipline —
    * never 7 separate lag joins re-scanning the series), the lagged
    * pairs join back on day equality, and the per-lag Pearson runs over
    * exact DECIMAL moments grouped by lag. Weekly seasonality shows as
    * an acf peak at lag 7. */
  def acfLadder(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val probes = daily
      .select(col("day"), col("rev").as("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .select((col("day") + col("lag")).as("pday"), col("lag"), col("x"))
    probes
      .join(daily.select(col("day").as("pday"), col("rev").as("y")),
        Seq("pday"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .select(col("lag"), col("n").as("n_pairs"),
        pround(expr(acf1Expr), 9).as("acf"))
      .orderBy("lag")
  }

  /** x60: Wald–Wolfowitz runs test on daily revenue — is the sequence
    * of above/below-median days random, or does it trend/cycle (too
    * few runs) or oscillate (too many)? The sequence-randomness
    * companion to x49's monotone-trend test. Median-equal days drop
    * (standard practice); the median is the x36 lower median off the
    * distinct-value cumulative table; runs count via one day-ordered
    * lag window over the calendar-bounded day table; the z-score is
    * one shared IEEE tree over the three exact integers (R, n1, n2).
    * Degenerate splits (one-sided, or n1 = n2 = 1) guard to null. */
  def runsTest(events: DataFrame): DataFrame = {
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val n = daily.agg(count(lit(1)).as("n"))
    val cumW = Window.orderBy("rev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = daily.groupBy("rev").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(cumW))
      .crossJoin(broadcast(n))
      .where(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("rev").as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .where(col("rev") =!= col("med"))
      .select(col("day"), (col("rev") > col("med")).cast("long").as("s"))
    val w = Window.orderBy("day")
    signs.withColumn("prev", lag("s", 1).over(w))
      .agg(count(lit(1)).as("m"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L)).as("n_runs"))
      .select(col("n1"), (col("m") - col("n1")).as("n2"), col("n_runs"))
      .select(col("n1"), col("n2"), col("n_runs"),
        pround(expr(runsZExpr), 6).as("z"))
  }

  // Runs-test z tree over exact integers, shared with the oracle. The
  // n2 column is derived (m - n1) BEFORE this expression applies.
  private[operators] val runsZExpr =
    "(case when n1 = 0 or n2 = 0 or 2 * n1 * n2 - n1 - n2 <= 0 " +
      "then cast(null as double) else " +
      "(cast(n_runs as double) - (2.0 * cast(n1 as double) * cast(n2 as double) " +
      "/ cast(n1 + n2 as double) + 1.0)) / " +
      "sqrt(2.0 * cast(n1 as double) * cast(n2 as double) " +
      "* (2.0 * cast(n1 as double) * cast(n2 as double) - cast(n1 + n2 as double)) " +
      "/ (cast(n1 + n2 as double) * cast(n1 + n2 as double) " +
      "* cast(n1 + n2 - 1 as double))) end)"

  /** x59: overdispersion census — per event type, the dispersion index
    * D = Var/Mean of the DAILY count series (D ≈ 1 Poisson, D >> 1
    * clumped/bursty arrivals, D < 1 metronome). The count-model
    * pre-flight for alerting: a Poisson threshold on overdispersed
    * traffic false-fires constantly (this is what x38/StreamAnomaly
    * thresholds should be checked against). One (type, day) reduction,
    * then |types| exact moment rows; D = (n·Σc² − (Σc)²)/(n·Σc) on one
    * shared IEEE tree. At 100 TB the c² sums flip to DECIMAL(38,0) —
    * same shape. */
  def dispersionCensus(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("event_type"), col("n_days"), col("sc").as("n_events"),
        pround(expr("cast(sc as double) / cast(n_days as double)"), 6)
          .as("mean_daily"),
        pround(expr(dispersionExpr), 6).as("dispersion"))
      .orderBy("event_type")
  }

  // Dispersion tree over exact integer moments, shared with the oracle;
  // an empty series has no defined index -> null.
  private[operators] val dispersionExpr =
    "(case when sc = 0 then cast(null as double) " +
      "else cast(n_days * scc - sc * sc as double) " +
      "/ (cast(n_days as double) * cast(sc as double)) end)"

  /** x58: capture–recapture (Chapman) population estimate — treat the
    * two stream halves as two independent "captures" of the user base
    * and estimate the TRUE population from the overlap:
    * N̂ = (n1+1)(n2+1)/(m+1) − 1. On complete logs the exact total is
    * known, so the census reports the estimator's relative error too —
    * the calibration read for the real use case (dedup across two
    * partial crawls / logs with loss, where the truth is NOT known).
    * One user_id reduction to per-user half flags (the same shuffle
    * x31 pays), one 1-row rollup, fixed IEEE tail. */
  def captureRecapture(events: DataFrame): DataFrame = {
    val daily = events.select(col("user_id"),
      expr("unix_timestamp(ts) div 86400").as("day"))
    val mm = daily.agg(min("day").as("dmin"), max("day").as("dmax"))
    val per = daily.crossJoin(broadcast(mm))
      .select(col("user_id"),
        (col("day") * 2 <= col("dmin") + col("dmax")).cast("long").as("h1"))
      .groupBy("user_id")
      .agg(max("h1").as("s1"), max(lit(1L) - col("h1")).as("s2"))
    per.agg(sum("s1").as("n1"), sum("s2").as("n2"),
        sum(col("s1") * col("s2")).as("m"), count(lit(1)).as("n_total"))
      .select(col("n1"), col("n2"), col("m").as("n_both"), col("n_total"),
        pround(expr(chapmanExpr), 6).as("chapman_est"),
        pround(expr(s"(($chapmanExpr) - cast(n_total as double)) " +
          "/ cast(n_total as double)"), 6).as("rel_err"))
  }

  // Chapman's bias-corrected Lincoln-Petersen tree, shared verbatim
  // with the oracle; the +1s make it finite even at zero overlap.
  private[operators] val chapmanExpr =
    "(cast(n1 + 1 as double) * cast(n2 + 1 as double) " +
      "/ cast(m + 1 as double) - 1.0)"

  /** x57: randomization (permutation) test for the first-half vs
    * second-half daily-revenue mean shift — distribution-free
    * significance with NO normality assumption (x24's Welch needs one;
    * x28's Mann–Whitney needs rank machinery): re-randomize the
    * half-labels 64 times and ask how often a random labeling beats
    * the observed mean gap. Randomness is the x1 md5 discipline —
    * label(day, p) = md5(day:p) parity — so every engine and every
    * partitioning draws the SAME permutations; this is a randomization
    * test (random relabeling, group sizes vary ±binomial) rather than
    * an exact permutation test, the standard large-sample substitute.
    *
    * Scale shape: facts reduce to the calendar-bounded day table
    * first; the ×64 explode happens on DAYS, not rows; per-permutation
    * sums are exact longs and the 64 mean-gap trees are fixed IEEE.
    * Permutations that land every day on one side have no statistic
    * and drop from the denominator. */
  /** Default permutation count for [[permTest]] — interpolated into both
    * the Scala default and the x57 oracle SQL so one edit updates both. */
  val DefaultPerms = 64

  def permTest(events: DataFrame, nPerms: Int = DefaultPerms): DataFrame = {
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val mm = daily.agg(min("day").as("dmin"), max("day").as("dmax"))
    val labeled = daily.crossJoin(broadcast(mm))
      .select(col("day"), col("rev"),
        (col("day") * 2 <= col("dmin") + col("dmax")).cast("long").as("g"))
    val obs = labeled.agg(
      count(lit(1)).as("n_days"),
      sum(when(col("g") === 1, col("rev"))).as("s1"),
      sum(when(col("g") === 1, 1L)).as("n1"),
      sum(when(col("g") === 0, col("rev"))).as("s0"),
      sum(when(col("g") === 0, 1L)).as("n0"))
      .select(col("n_days"), expr(permDiffExpr).as("obs_diff"))
    val perms = labeled
      .select(col("day"), col("rev"),
        explode(expr(s"sequence(0, ${nPerms - 1})")).as("p"))
      .select(col("p"), col("rev"),
        (md5Long56(expr("concat(cast(day as string), ':', cast(p as string))")) % 2)
          .as("pg"))
      .groupBy("p").agg(
        sum(when(col("pg") === 1, col("rev"))).as("s1"),
        coalesce(sum(when(col("pg") === 1, 1L)), lit(0L)).as("n1"),
        sum(when(col("pg") === 0, col("rev"))).as("s0"),
        coalesce(sum(when(col("pg") === 0, 1L)), lit(0L)).as("n0"))
      .where(col("n1") > 0 && col("n0") > 0)
      .select(expr(permDiffExpr).as("pd"))
    val tail = perms.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_valid"),
        sum(when(abs(col("pd")) >= abs(col("obs_diff")), 1L).otherwise(0L))
          .as("n_ge"))
    obs.crossJoin(broadcast(tail))
      .select(col("n_days"), pround(col("obs_diff"), 6).as("obs_diff"),
        lit(nPerms.toLong).as("n_perms"), col("n_valid"), col("n_ge"),
        pround(when(col("n_valid") > 0,
          col("n_ge").cast("double") / col("n_valid").cast("double")), 6)
          .as("p_value"))
  }

  // Mean gap (half-1 minus half-0) over exact integer sums, shared
  // verbatim between the observed row and every permutation row.
  private[operators] val permDiffExpr =
    "(cast(s1 as double) / cast(n1 as double) " +
      "- cast(s0 as double) / cast(n0 as double))"

  /** Default BH false-discovery-rate level for [[permFdr]], in percent —
    * interpolated into both the Scala tree and the x64 oracle SQL. */
  val DefaultFdrAlphaPct = 10

  /** x64: grouped permutation tests + Benjamini-Hochberg FDR — the
    * multiple-testing operator an experimentation platform needs the
    * moment it runs [[permTest]] per segment: one calendar-half mean-gap
    * permutation test PER event_type, then BH at level α selects which
    * segments stay significant after correction (reject the k smallest
    * p-values where p_(i) ≤ i·α/m, k = the largest passing rank).
    *
    * Fully engine-portable multiple testing: permutation p-values are
    * exact integer ratios (n_ge/n_valid — no normal CDF, no erf, no
    * transcendental anywhere), and the BH comparison cross-multiplies to
    * integers (100·m·n_ge ≤ rank·αpct·n_valid), so the reject set is
    * bit-identical across engines. The day-keyed md5 relabeling is
    * SHARED across types (same sign flip per (day, perm) — the paired
    * design), so segment tests see the same permutation draw.
    *
    * Scale shape: facts reduce to the (type, day) table ONCE (one
    * combinable shuffle); the ×nPerms explode runs on that calendar-
    * bounded table (the x57 discipline); ranking/BH windows ride the
    * |types|-row result only — the documented bounded-table exception
    * to the no-global-window rule. */
  def permFdr(events: DataFrame, nPerms: Int = DefaultPerms,
      alphaPct: Int = DefaultFdrAlphaPct): DataFrame = {
    val daily = events
      .select(col("event_type").as("et"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("et", "day").agg(sum("c").as("rev"))
    val mm = daily.groupBy("et").agg(min("day").as("dmin"), max("day").as("dmax"))
    val labeled = daily.join(mm, "et")
      .select(col("et"), col("day"), col("rev"),
        (col("day") * 2 <= col("dmin") + col("dmax")).cast("long").as("g"))
    val obs = labeled.groupBy("et")
      .agg(sum(when(col("g") === 1, col("rev"))).as("s1"),
        coalesce(sum(when(col("g") === 1, 1L)), lit(0L)).as("n1"),
        sum(when(col("g") === 0, col("rev"))).as("s0"),
        coalesce(sum(when(col("g") === 0, 1L)), lit(0L)).as("n0"))
      .where(col("n1") > 0 && col("n0") > 0)
      .select(col("et"), expr(permDiffExpr).as("obs_diff"))
    val perms = labeled
      .select(col("et"), col("day"), col("rev"),
        explode(expr(s"sequence(0, ${nPerms - 1})")).as("p"))
      .select(col("et"), col("p"), col("rev"),
        (md5Long56(expr("concat(cast(day as string), ':', cast(p as string))")) % 2)
          .as("pg"))
      .groupBy("et", "p")
      .agg(sum(when(col("pg") === 1, col("rev"))).as("s1"),
        coalesce(sum(when(col("pg") === 1, 1L)), lit(0L)).as("n1"),
        sum(when(col("pg") === 0, col("rev"))).as("s0"),
        coalesce(sum(when(col("pg") === 0, 1L)), lit(0L)).as("n0"))
      .where(col("n1") > 0 && col("n0") > 0)
      .select(col("et"), expr(permDiffExpr).as("pd"))
    val tails = perms.join(obs, "et")
      .groupBy("et")
      .agg(count(lit(1)).as("n_valid"),
        sum(when(abs(col("pd")) >= abs(col("obs_diff")), 1L).otherwise(0L))
          .as("n_ge"))
    // everything below rides the |types|-row table
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rkw = Window.orderBy(
      (col("n_ge").cast("double") / col("n_valid").cast("double")).asc,
      col("et").asc)
    obs.join(tails, "et")
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("p_rank", row_number().over(rkw))
      .withColumn("pass",
        (lit(100L) * col("m") * col("n_ge")
          <= col("p_rank") * lit(alphaPct.toLong) * col("n_valid")).cast("long"))
      .withColumn("k_max",
        max(when(col("pass") === 1, col("p_rank"))).over(all))
      .select(col("et").as("event_type"),
        pround(col("obs_diff"), 6).as("obs_diff"),
        col("n_ge"), col("n_valid"),
        pround(col("n_ge").cast("double") / col("n_valid").cast("double"), 6)
          .as("p_value"),
        col("p_rank").cast("long").as("p_rank"), col("m").as("n_tests"),
        (col("p_rank") <= coalesce(col("k_max"), lit(0L))).cast("long")
          .as("bh_rejected"))
      .orderBy("p_rank")
  }

  /** x56: Theil T inequality index of order revenue — the
    * decomposable member of the inequality family (x25 Gini, x40
    * Lorenz): T = Σ (x/S)·ln(x/μ), 0 for perfect equality, ln(n) at
    * total concentration. The ln is the one transcendental, handled
    * with the t11 micro-nat discipline: each DISTINCT cent value's
    * ln(v/μ) quantizes to an integer micro-nat once (|distinct values|
    * evaluations, not per row), and everything else is exact
    * DECIMAL(38,0) sums of c·v·t — order-free, engine-identical. The
    * value bin table is the only shuffle; the total rides broadcast. */
  def theilIndex(orders: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val bins = orders
      .select(expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val tot = bins.agg(
      sum(col("v").cast(dec) * col("c").cast(dec)).as("s"),
      sum("c").as("n"))
    bins.crossJoin(broadcast(tot))
      .select(col("c"), col("v"), col("s"), col("n"),
        expr("cast(floor(ln(cast(v as double) / (cast(s as double) " +
          "/ cast(n as double))) * 1000000.0 + 0.5) as bigint)").as("t"))
      .agg(max("n").as("n_orders"), max("s").as("sd"),
        sum(col("c").cast(dec) * col("v").cast(dec) * col("t").cast(dec))
          .as("num"))
      .select(col("n_orders"), col("sd").cast("long").as("total_cents"),
        pround(expr("cast(num as double) / (cast(sd as double) * 1000000.0)"), 9)
          .as("theil"))
  }

  /** x55: lead–lag cross-correlation ladder between daily revenue and
    * daily event volume — "does volume LEAD revenue?" (lag 0 is the
    * contemporaneous Pearson; lag ℓ correlates rev(day) with
    * cnt(day+ℓ)). x47's autocorrelation discipline verbatim: one
    * day-reduced table, lags explode against the calendar-bounded day
    * grid, decimal-exact moment sums per lag, and the shared acf1Expr
    * IEEE tree only on the 8-row ladder. */
  def ccfLadder(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"), count(lit(1)).as("cnt"))
    val probes = daily
      .select(col("day"), col("rev").as("x"),
        explode(expr(s"sequence(0, $maxLag)")).as("lag"))
      .select((col("day") + col("lag")).as("pday"), col("lag"), col("x"))
    probes
      .join(daily.select(col("day").as("pday"), col("cnt").as("y")),
        Seq("pday"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .select(col("lag"), col("n").as("n_pairs"),
        pround(expr(acf1Expr), 9).as("ccf"))
      .orderBy("lag")
  }

  /** x63: effective sample size of the daily-revenue series — n days
    * of autocorrelated data carry the information of only
    * ESS = n/(1 + 2Σρ_k) independent days (Kish), so every
    * daily-series test upstream (x24/x57/x60) is implicitly
    * overconfident by n/ESS. Composes x47's ladder: the ρ_k are the
    * SAME 9-dp acf values x47 publishes (recovered to exact
    * nano-units, summed as longs — the composition cannot drift from
    * the standalone query), the day count is the same reduction, and
    * the ESS is one guarded 1-row tree. */
  def essDays(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val sAcf = acfLadder(events, maxLag)
      .agg(coalesce(sum(expr(
        "cast(floor(coalesce(acf, 0.0) * 1000000000.0 + 0.5) as bigint)")),
        lit(0L)).as("snano"))
    val nd = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct().agg(count(lit(1)).as("n_days"))
    nd.crossJoin(broadcast(sAcf))
      .select(col("n_days"),
        pround(expr("cast(snano as double) / 1000000000.0"), 9)
          .as("sum_acf"),
        pround(expr(essExpr), 6).as("ess_days"),
        pround(expr(s"cast(n_days as double) / ($essExpr)"), 6)
          .as("overconfidence"))
  }

  // Kish ESS tree, shared with the oracle; a pathologically negative
  // autocorrelation sum (denominator <= 0) has no defined ESS -> null.
  private[operators] val essExpr =
    "(case when 1.0 + 2.0 * cast(snano as double) / 1000000000.0 <= 0.0 " +
      "then cast(null as double) " +
      "else cast(n_days as double) " +
      "/ (1.0 + 2.0 * cast(snano as double) / 1000000000.0) end)"

  /** x31: two-proportion z-test on conversion (did the user ever
    * purchase?) between hash-split variants — THE A/B-test statistic
    * for binary outcomes, complementing Welch (means, x24), CUPED
    * (variance reduction, x27) and Mann-Whitney (distributions, x28).
    *
    * Scale shape: one user_id-keyed conditional-max pass reduces facts
    * to a flag per user; variants reduce to (n, k) count pairs — two
    * rows total — and the pooled-variance z is one shared-text IEEE
    * tree over those exact integers. */
  def propZTest(events: DataFrame, success: String = "purchase"): DataFrame = {
    val per = events.groupBy("user_id")
      .agg(max(when(col("event_type") === success, 1L).otherwise(0L)).as("s"))
      .select((col("user_id") % 2).as("variant"), col("s"))
    val v = per.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("s").as("k"))
    val a = v.where(col("variant") === 0)
      .select(col("n").as("na"), col("k").as("ka"))
    val b = v.where(col("variant") === 1)
      .select(col("n").as("nb"), col("k").as("kb"))
    a.crossJoin(b).select(
      col("na").as("n_a"), col("ka").as("k_a"),
      col("nb").as("n_b"), col("kb").as("k_b"),
      pround(expr(propPa), 6).as("p_a"),
      pround(expr(propPb), 6).as("p_b"),
      pround(expr(propZExpr), 6).as("z"))
  }

  // Pooled two-proportion z tree, shared verbatim with the oracle. A
  // degenerate pool (0% or 100% conversion) has zero variance -> null.
  private[operators] val propPa = "(cast(ka as double) / cast(na as double))"
  private[operators] val propPb = "(cast(kb as double) / cast(nb as double))"
  private val propPool =
    "((cast(ka as double) + cast(kb as double)) / (cast(na as double) + cast(nb as double)))"
  private[operators] val propZExpr =
    s"(case when $propPool * (1.0 - $propPool) = 0.0 then cast(null as double) " +
      s"else ($propPa - $propPb) / sqrt($propPool * (1.0 - $propPool) * " +
      "(1.0 / cast(na as double) + 1.0 / cast(nb as double))) end)"

  /** x54: minimum detectable effect (MDE) at 80% power for the x31
    * two-proportion test — the experiment-DESIGN companion: before
    * running a test on these arms, what's the smallest conversion lift
    * it could even see? Reuses x31's exact reduction (one user_id
    * conditional-max pass → two (n, k) rows), then one 1-row IEEE tree:
    * mde = (z_α/2 + z_β)·√(p̄(1−p̄)(1/n_a + 1/n_b)) with the standard
    * 1.959964/0.841621 constants. Degenerate pools guard to null. */
  def mdePower(events: DataFrame, success: String = "purchase"): DataFrame = {
    val per = events.groupBy("user_id")
      .agg(max(when(col("event_type") === success, 1L).otherwise(0L)).as("s"))
      .select((col("user_id") % 2).as("variant"), col("s"))
    val v = per.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("s").as("k"))
    val a = v.where(col("variant") === 0)
      .select(col("n").as("na"), col("k").as("ka"))
    val b = v.where(col("variant") === 1)
      .select(col("n").as("nb"), col("k").as("kb"))
    a.crossJoin(b).select(
      col("na").as("n_a"), col("ka").as("k_a"),
      col("nb").as("n_b"), col("kb").as("k_b"),
      pround(expr(mdePool), 6).as("p_pool"),
      pround(expr(mdeAbsExpr), 9).as("mde_abs"),
      pround(expr(mdeRelExpr), 9).as("mde_rel"))
  }

  // MDE trees, shared verbatim with the oracle; 1.959964 = z_{0.025},
  // 0.841621 = z_{0.20} (80% power).
  private[operators] val mdePool =
    "((cast(ka as double) + cast(kb as double)) / (cast(na as double) + cast(nb as double)))"
  private[operators] val mdeAbsExpr =
    s"(case when $mdePool * (1.0 - $mdePool) = 0.0 then cast(null as double) " +
      s"else (1.959964 + 0.841621) * sqrt($mdePool * (1.0 - $mdePool) * " +
      "(1.0 / cast(na as double) + 1.0 / cast(nb as double))) end)"
  private[operators] val mdeRelExpr =
    s"(case when $mdePool * (1.0 - $mdePool) = 0.0 then cast(null as double) " +
      s"else ((1.959964 + 0.841621) * sqrt($mdePool * (1.0 - $mdePool) * " +
      s"(1.0 / cast(na as double) + 1.0 / cast(nb as double)))) / $mdePool end)"

  /** x32: day-of-week seasonality profile of event revenue — the
    * weekly-cycle census behind staffing/alert baselines and the
    * seasonal term x30's autocorrelation doesn't isolate.
    *
    * Scale shape: ONE combinable pass keyed by a 7-value integer
    * day-of-week (epoch-day arithmetic, the f4 discipline — engine
    * date functions disagree on week conventions, `(day+4) mod 7`
    * cannot); the share denominator is a broadcast one-row total. */
  def dowSeasonality(events: DataFrame): DataFrame = {
    // epoch day 0 = 1970-01-01, a Thursday: +4 makes 0 = Sunday
    val per = events
      .select(expr("(unix_timestamp(ts) div 86400 + 4) % 7").as("dow"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_events"), sum("c").as("rev"))
    val tot = per.agg(sum("rev").as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_events"), col("rev").as("revenue_cents"),
        pround(expr("cast(rev as double) / cast(tot as double)"), 9)
          .as("revenue_share"))
      .orderBy("dow")
  }

  /** x33: winsorized mean of event value per event type (5th/95th
    * percentile clamping) — the robust-metric transform every
    * experimentation platform applies before averaging heavy-tailed
    * revenue, and the clamped complement to x16-style trimming.
    *
    * Scale shape (the x25/x28 domain-bounding discipline): values
    * quantize to cents and reduce to (group, cent) bins in one
    * combinable pass; the percentile window runs per group over the
    * BIN table; the clamp bounds come back as a broadcast |groups|-row
    * join, and the winsorized sum is exact integer arithmetic over the
    * same bin table — observations are never sorted or re-scanned.
    * Percentile convention pinned explicitly: lo/hi = smallest cent
    * value whose cumulative count reaches ceil(0.05n)/ceil(0.95n). */
  def winsorizedMean(events: DataFrame): DataFrame = {
    // EAGER bins (r19): the (group, cent) bin table has four distinct
    // consumers (cumulative window, totals, and the final clamp pass) —
    // runtime exchange reuse only partially dedups them (measured
    // 1.39 s lazy vs 0.96 s stored at sf0.1), and the table is value-
    // domain-bounded, so storing it is safe at any corpus size.
    val bins = Materialize.frame(events
      .select(col("event_type").as("g"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt")))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum("cnt").over(w))
    val tot = bins.groupBy("g").agg(sum("cnt").as("n"))
    val j = cum.join(broadcast(tot), "g")
    val lo = j.where(col("cum") >= expr("(n + 19) div 20"))
      .groupBy("g").agg(min("v").as("lo"))
    val hi = j.where(col("cum") >= expr("(19 * n + 19) div 20"))
      .groupBy("g").agg(min("v").as("hi"))
    bins.join(broadcast(lo), "g").join(broadcast(hi), "g")
      .select(col("g"),
        (greatest(col("lo"), least(col("hi"), col("v"))) * col("cnt")).as("wv"))
      .groupBy("g").agg(sum("wv").as("sw"))
      .join(broadcast(tot), "g").join(broadcast(lo), "g")
      .join(broadcast(hi), "g")
      .select(col("g").as("event_type"), col("n"),
        col("lo").as("lo_cents"), col("hi").as("hi_cents"),
        pround(expr(winsorMeanExpr), 6).as("winsorized_mean"))
      .orderBy("event_type")
  }

  private[operators] val winsorMeanExpr =
    "(cast(sw as double) / cast(n as double) / 100.0)"

  /** x34: per-day value-percentile census (p50/p95) — the daily latency/
    * revenue distribution board behind alerting baselines; pure integer
    * output, so zero cross-engine float risk.
    *
    * Scale shape: (day, cent) bin reduction in one combinable pass;
    * per-day percentile windows run over bins (the x33 discipline); the
    * day-total join is broadcast (the day table is calendar-bounded).
    * Convention pinned: p = smallest cent value reaching ceil(q·n). */
  def dailyPercentiles(events: DataFrame): DataFrame = {
    // EAGER bins (r19): same multi-consumer rationale as x33 — the
    // (day, cent) bin table is calendar × value-domain bounded.
    val bins = Materialize.frame(events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("day", "v").agg(count(lit(1)).as("cnt")))
    val w = Window.partitionBy("day").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum("cnt").over(w))
    val tot = bins.groupBy("day").agg(sum("cnt").as("n"))
    val j = cum.join(broadcast(tot), "day")
    val p50 = j.where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("day").agg(min("v").as("p50_cents"))
    val p95 = j.where(col("cum") >= expr("(19 * n + 19) div 20"))
      .groupBy("day").agg(min("v").as("p95_cents"))
    tot.join(p50, "day").join(p95, "day").orderBy("day")
  }

  /** x35: Benford first-digit census — the classic fabricated-data /
    * unit-mixing detector: naturally-arising multiplicative quantities
    * follow P(d) = log10(1 + 1/d); uniform-ish synthetic values do not.
    * Flagging a source whose leading digits diverge is a standard
    * ingest-QA gate.
    *
    * Engine parity: the leading digit comes from the decimal STRING of
    * the cent value (both engines render bigints identically — no
    * float log10 anywhere), and the Benford expectation is a shared
    * 12-dp DECIMAL literal table, the s20 discipline. One combinable
    * 9-row count pass; shares are shared-tree divisions. */
  def benfordDigits(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val per = events
      .select(expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
      .where(col("v") > 0)
      .select(expr("cast(substring(cast(v as string), 1, 1) as bigint)").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = per.agg(sum("n").as("t"))
    val exp = benfordExpected.toDF("digit", "expected")
      .select(col("digit").cast("long").as("digit"),
        col("expected").cast(DecimalType(14, 12)).as("expected"))
    per.join(broadcast(exp), Seq("digit"), "right")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        pround(expr("cast(coalesce(n, 0) as double) / cast(t as double)"), 9)
          .as("share"),
        col("expected").cast("double").as("benford_expected"))
      .orderBy("digit")
  }

  // log10(1 + 1/d) at 12 dp, d = 1..9 — shared literal table.
  private val benfordExpected: Seq[(Int, BigDecimal)] = Seq(
    1 -> BigDecimal("0.301029995664"), 2 -> BigDecimal("0.176091259056"),
    3 -> BigDecimal("0.124938736608"), 4 -> BigDecimal("0.096910013008"),
    5 -> BigDecimal("0.079181246048"), 6 -> BigDecimal("0.066946789631"),
    7 -> BigDecimal("0.057991946978"), 8 -> BigDecimal("0.051152522447"),
    9 -> BigDecimal("0.045757490561"))

  private[operators] val benfordSqlValues: String =
    benfordExpected.map { case (d, e) => s"($d, $e)" }.mkString(", ")

  /** x36: median absolute deviation (MAD) of event value per type — the
    * robust scale estimate (sigma ≈ 1.4826·MAD under normality) used to
    * set outlier fences that one wild value cannot move, completing the
    * robust family (x33 winsorize = robust location, x36 = robust
    * scale).
    *
    * Scale shape: BOTH medians run over bin tables, never observations:
    * the first over (group, cent) bins; the deviation re-bin is a
    * PROJECTION of that same bin table (|v − med| keyed counts), so the
    * second median costs another bins-sized pass. Convention: lower
    * median (smallest value reaching ceil(n/2)), matching x33/x34. */
  def madValue(events: DataFrame): DataFrame = {
    // EAGER bins (r19): x36 re-reads the bin table FIVE times (median
    // window, totals, the deviation re-bin, and the final joins) — the
    // x33 storage rationale, doubled.
    val bins = Materialize.frame(events
      .select(col("event_type").as("g"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt")))
    val tot = bins.groupBy("g").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = bins.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), "g")
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("g").agg(min("v").as("med"))
    val dev = bins.join(broadcast(med), "g")
      .select(col("g"), abs(col("v") - col("med")).as("dv"), col("cnt"))
      .groupBy("g", "dv").agg(sum("cnt").as("cnt"))
    val wd = Window.partitionBy("g").orderBy("dv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev.withColumn("cum", sum("cnt").over(wd))
      .join(broadcast(tot), "g")
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("g").agg(min("dv").as("mad_cents"))
    tot.join(broadcast(med), "g").join(broadcast(mad), "g")
      .select(col("g").as("event_type"), col("n"),
        col("med").as("median_cents"), col("mad_cents"))
      .orderBy("event_type")
  }

  /** x42: day-of-week seasonality STRENGTH (one-way ANOVA η²) — x32
    * reports the seven weekday means; this reports how much of the daily
    * revenue variance those means explain (between-group SS over total
    * SS). η² ≈ 0 says the weekday pattern is noise, η² near 1 says the
    * calendar owns the series — the decision input for whether a
    * forecast or anomaly detector needs weekday terms at all.
    *
    * Scale shape: facts reduce to one row per DAY (x30), then to 7
    * weekday moment rows. The only non-integer step, Σ S_g²/n_g, is an
    * EXACT integer floor-division per group (remainder subtracted before
    * a now-exact decimal divide — a double pround here silently clamps:
    * floor() on DoubleType returns LongType, and S_g²·10⁶ overflows a
    * long at this magnitude; the DuckDB mirror is plain `//`), summed in
    * DECIMAL over the 7 rows; η² is one shared IEEE tree with a
    * zero-variance guard. Weekday indexing is integer epoch-day % 7
    * (x32's convention: day 0 = Thursday). */
  def dowAnova(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    daily
      .select(expr("day % 7").as("dow"), col("rev"))
      .groupBy("dow")
      .agg(count(lit(1)).as("ng"),
        sum(col("rev").cast(dec)).as("sg"),
        sum(col("rev").cast(dec) * col("rev").cast(dec)).as("ssqg"))
      .select(col("ng"), col("ssqg"), col("sg"),
        expr("cast((sg * sg - pmod(sg * sg, cast(ng as decimal(38,0)))) " +
          "/ cast(ng as decimal(38,0)) as decimal(38,0))").as("term"))
      .agg(sum("ng").as("n"), sum("sg").as("s"), sum("ssqg").as("sxx"),
        sum("term").as("st"), count(lit(1)).as("n_dows"))
      .select(col("n").as("n_days"), col("n_dows"),
        pround(expr(etaSqExpr), 9).as("eta_sq"))
  }

  // η² = (Σ S_g²/n_g − S²/n) / (Σx² − S²/n); a constant series has no
  // defined ratio — guarded null. Shared verbatim with the oracle.
  private val etaSst =
    "(cast(sxx as double) - cast(s as double) * cast(s as double) / cast(n as double))"
  private[operators] val etaSqExpr =
    s"(case when $etaSst = 0.0 then cast(null as double) else " +
      s"((cast(st as double) - cast(s as double) * cast(s as double) / cast(n as double)) / " +
      s"$etaSst) end)"

  /** x41: Tukey-fence outlier census per event type — the boxplot rule
    * (beyond Q1 − 1.5·IQR or Q3 + 1.5·IQR) that most dashboards and
    * pre-training value filters actually apply, completing the robust
    * family: x33 winsorizes, x36 measures spread, x41 COUNTS the tail.
    *
    * Quartiles use the x34 ceil(q·n) bin convention; the fences are
    * exact half-cent doubles (1.5·integer IQR), the fence comparison
    * runs over the SAME bin table (a second |bins|-row pass, zero new
    * fact scans), and the fence join is a broadcast of |groups| rows. */
  def tukeyOutliers(events: DataFrame): DataFrame = {
    val bins = events
      .select(col("event_type").as("g"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val tot = bins.groupBy("g").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), "g")
    val q = cum.groupBy("g")
      .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("v"))).as("q1"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v"))).as("q3"))
      .select(col("g"), col("q1"), col("q3"),
        (col("q1").cast("double") - (col("q3") - col("q1")).cast("double") * 1.5)
          .as("lo"),
        (col("q3").cast("double") + (col("q3") - col("q1")).cast("double") * 1.5)
          .as("hi"))
    bins.join(broadcast(q), "g")
      .groupBy("g")
      .agg(sum("cnt").as("n"),
        max("q1").as("q1_cents"), max("q3").as("q3_cents"),
        sum(when(col("v").cast("double") < col("lo"), col("cnt"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("v").cast("double") > col("hi"), col("cnt"))
          .otherwise(0L)).as("n_high"))
      .select(col("g").as("event_type"), col("n"), col("q1_cents"),
        col("q3_cents"), col("n_low"), col("n_high"),
        pround((col("n_low") + col("n_high")).cast("double") /
          col("n").cast("double"), 9).as("outlier_share"))
      .orderBy("event_type")
  }

  /** x40: exact Lorenz decile curve of per-user value — the curve behind
    * x25's Gini scalar: cumulative value share held by the bottom d/10
    * of users, the concentration profile ("the top decile carries 60% of
    * revenue") that drives sampling and mixture decisions.
    *
    * Exactness at the boundary: all users inside one cent bin hold the
    * SAME value, so the cumulative revenue at user-rank r is
    * cum_before + (r − users_before)·v — exact integers, no
    * interpolation error. The decile boundary rank is ceil(d·n/10) via
    * integer arithmetic. Windows run over cent BINS (x25/x34
    * discipline); the ten boundary rows come from a broadcast cross with
    * the literal decile table and a min-struct per decile. */
  def lorenzDeciles(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val per = events
      .select(col("user_id"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("user_id").agg(sum("c").as("v"))
    val bins = per.groupBy("v").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.select(col("v"), col("cnt"),
      sum("cnt").over(w).as("cu"),
      sum((col("v").cast(dec) * col("cnt").cast(dec))).over(w).as("cr"))
    val tot = per.agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("t"))
    val deciles = events.sparkSession.range(1, 11)
      .select(col("id").as("decile"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
      .withColumn("rd", expr("(decile * n + 9) div 10"))
      .where(col("cu") >= col("rd"))
      .groupBy("decile", "rd", "t")
      .agg(min(struct(col("v"), col("cnt"), col("cu"), col("cr"))).as("b"))
      .select(col("decile"), col("rd").as("user_rank"),
        pround((col("b.cr") -
          (col("b.cu") - col("rd")).cast(dec) * col("b.v").cast(dec))
          .cast("double") / col("t").cast("double"), 9).as("rev_share"))
      .orderBy("decile")
  }

  /** x38: CUSUM changepoint scan on the daily revenue series — where did
    * the level shift? The classic offline changepoint statistic: the day
    * k maximizing |S_k − k·μ| (cumulative deviation from the global
    * mean) is the most likely break. Monitoring teams run exactly this
    * over metric series to date a regression.
    *
    * Exactness: μ = T/n is rational, so the statistic is computed as the
    * INTEGER D_k = n·S_k − k·T (same argmax, no division anywhere) in
    * DECIMAL(38,0); only the final reported magnitude is divided back by
    * n into mean-units, through a shared IEEE tree. Ties break to the
    * earliest day via the max-struct trick — no row ever leaves the
    * |days|-bounded table, and the facts reduce to it in one combinable
    * pass (the x30 discipline). */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = events
      .select(expr("unix_timestamp(ts) div 86400").as("day"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(sum(col("rev").cast(dec)).as("t"),
      count(lit(1)).as("n"))
    daily
      .withColumn("s", sum(col("rev").cast(dec)).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("day"),
        abs(col("n").cast(dec) * col("s") - col("k").cast(dec) * col("t"))
          .as("d"))
      .groupBy("n")
      .agg(max(struct(col("d"), (-col("day")).as("nd"))).as("m"))
      .select(col("n").as("n_days"),
        (-col("m.nd")).as("cp_day"),
        pround(expr("cast(m.d as double) / cast(n as double)"), 4)
          .as("cusum_max_cents"))
  }

  /** x37: Spearman rank correlation (quantity vs extended price) — the
    * monotone-association companion to x29's linear fit: insensitive to
    * the price scale and to outliers, the standard screen for "does Y
    * rise with X at all?" before fitting anything.
    *
    * Ranks are tie-aware AVERAGE ranks assigned over cent-value BIN
    * tables (the x25/x28 domain-bounding discipline): a cumulative
    * window over bins — never observations — yields each bin's doubled
    * average rank 2·cum − cnt + 1 as an exact integer (doubling clears
    * the ½ that tied ranks introduce; a common factor on both variables
    * cancels in the correlation). Facts then join their two bin ranks
    * back (quantity bins are dozens of rows; price bins are bounded by
    * the price grid, not the row count) and ONE combinable DECIMAL
    * moment pass feeds the x30 Pearson tree. */
  def spearmanQtyPrice(lineitem: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val f = lineitem.select(
      expr("cast(floor(l_quantity * 100.0 + 0.5) as bigint)").as("qx"),
      expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)").as("px"))
    def doubledRanks(vc: String, rc: String): DataFrame = {
      val w = Window.orderBy(vc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f.groupBy(vc).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .select(col(vc), (lit(2L) * col("cum") - col("cnt") + lit(1L)).as(rc))
    }
    f.join(broadcast(doubledRanks("qx", "x")), "qx")
      .join(doubledRanks("px", "y"), "px")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      .select(col("n").as("n_rows"),
        pround(expr(acf1Expr), 9).as("spearman_rho"))
  }

  /** x43: Theil–Sen robust trend slope of daily revenue — the
    * outlier-immune alternative to x29's OLS: the median of all pairwise
    * slopes (rev_j − rev_i)/(day_j − day_i), i < j, over the
    * day-reduced series.
    *
    * Scale shape: facts reduce once (map-side combinable) to one exact
    * cents row per calendar day, so the pairwise grid is |days|²/2 —
    * calendar-bounded, NOT data-bounded (a decade is ~6.7M pairs
    * regardless of fact count). The median is the x36 lower-median
    * convention over the |distinct slope| cumulative table, in integer
    * micro-cents/day (floor·1e6) so the pick is engine-exact. */
  def theilSen(orders: DataFrame): DataFrame = {
    // r20 (VERDICT r19 item 6): the day-reduced series is stored ONCE
    // (calendar-bounded — one row per day). It has THREE consumers that
    // exchange reuse cannot dedup across broadcast boundaries: both
    // sides of the pair grid's nested-loop join and the final n_days
    // count — the lazy form re-ran the orders scan + day groupBy for
    // each (the n_days pass alone was a full extra fact scan in the
    // before-plan).
    val daily = Materialize.frame(orders
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev")))
    val pairs = daily.select(col("day").as("d1"), col("rev").as("r1"))
      .join(daily.select(col("day").as("d2"), col("rev").as("r2")),
        col("d1") < col("d2"))
      .select(expr(
        """cast(floor(cast(r2 - r1 as double) / cast(d2 - d1 as double)
          |  * 1000000.0) as bigint)""".stripMargin).as("sl"))
    // r19: the pair grid reduces ONCE to the (sl, cnt) slope table; the
    // pair count, the slope extrema, and both median passes all read that
    // one groupBy — the pre-r19 shape re-evaluated the |days|²/2 nested-
    // loop grid under np, med AND the final projection (3 BNLJ passes,
    // 7 parquet scans in the physical plan). The exact lower median then
    // runs TWO-LEVEL: a ≤4096-row bucket histogram locates the median's
    // bucket (integer width over the broadcast extrema), and the in-
    // bucket cumulative window scans only that bucket's slopes — the
    // former single-partition window over EVERY distinct slope was the
    // measured bulk of the query and is the wrong shape at scale (the
    // grid is calendar-quadratic: a decade is ~6.7M pairs).
    // EAGER: the raw slope rows are stored ONCE (pair-bounded — ≤
    // |days|²/2 rows, ~6.7M for a decade — 8 B each) and every consumer
    // (extrema row, bucket histogram, in-bucket median pass) reads the
    // stored rows; exchange reuse does not dedup the grid across them
    // (measured: the lazy shape re-ran the nested-loop grid per
    // consumer). Storing RAW rows instead of the (sl, cnt) groupBy also
    // deletes the 2.9M-mostly-unique-key exchange that grouping paid:
    // the bucket histogram partial-aggregates map-side to ≤4097 rows,
    // and only the median's OWN bucket is ever grouped by slope.
    val pr = Materialize.frame(pairs)
    val np = pr.agg(count(lit(1)).as("n_pairs"),
      min("sl").as("mn"), max("sl").as("mx"))
    val bucketed = pr.crossJoin(broadcast(np))
      .select(col("sl"), col("n_pairs"),
        expr("(sl - mn) div ((mx - mn) div 4096 + 1)").as("b"))
    val wb = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tb = bucketed.groupBy("b").agg(count(lit(1)).as("bc"),
        max("n_pairs").as("n_pairs"))
      .withColumn("cumb", sum("bc").over(wb))
      .where(col("cumb") >= expr("(n_pairs + 1) div 2"))
      .agg(min(struct(col("b"), (col("cumb") - col("bc")).as("before")))
        .as("t"))
      .select(col("t.b").as("tb"), col("t.before").as("cum_before"))
    val wi = Window.orderBy("sl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = bucketed.crossJoin(broadcast(tb))
      .where(col("b") === col("tb"))
      .groupBy("sl").agg(count(lit(1)).as("cnt"),
        max("n_pairs").as("n_pairs"), max("cum_before").as("cum_before"))
      .withColumn("cum", sum("cnt").over(wi) + col("cum_before"))
      .where(col("cum") >= expr("(n_pairs + 1) div 2"))
      .agg(min("sl").as("slope_micro_p50"))
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(np.select(col("n_pairs"))))
      .crossJoin(broadcast(med))
      .select(col("n_days"), col("n_pairs"), col("slope_micro_p50"))
  }

  /** x45: trailing 15-day EWMA of daily revenue (α = 0.2) — the
    * smoothed KPI line every dashboard draws. Weights are EXACT:
    * (0.8)^k is represented as the integer 8^k·10^(14−k) (a ×10^14
    * scaling). Every such power and product is an integer ≤ 10^14
    * (mantissa 5^(14−k) < 2^33), so the correctly-rounded pow() both
    * engines ship returns it EXACTLY, the DECIMAL(38,0) cast loses
    * nothing, and the weighted sums are integer-exact — one pround'd
    * division at the end.
    *
    * Scale shape: facts reduce once (combinable) to exact cents per
    * calendar day; the trailing window is a range self-join of that
    * |days|-bounded table (≤ 15 partners per row — calendar-bounded,
    * not data-bounded), expressed as an EQUALITY join on 15-day
    * buckets with the exact range as a residual (the r8 discipline: a
    * trailing-15 partner lives in bucket(d) or bucket(d)−1, so each
    * probe row explodes to two bucket keys — a pure-inequality join
    * here compiles to BroadcastNestedLoopJoin, measured 15× slower
    * even on the tiny day table). Calendar gaps weight by true day
    * DISTANCE, not row offset, which a rowsBetween window could not
    * express. */
  def ewmaRevenue(orders: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = orders
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val a = daily.select(col("day").as("d"), col("rev").as("rev"),
      explode(expr("array(day div 15, day div 15 - 1)")).as("bk"))
    val b = daily.select(expr("day div 15").as("bk"),
      col("day").as("pd"), col("rev").as("prev"))
    a.join(b, Seq("bk"))
      .where(col("pd") <= col("d") && col("pd") > col("d") - 15)
      .select(col("d"), col("rev"),
        expr("cast(pow(8.0, d - pd) * pow(10.0, 14 - (d - pd)) as decimal(38,0))")
          .as("w"),
        col("prev"))
      .groupBy("d", "rev")
      .agg(sum(col("w") * col("prev").cast(dec)).as("num"),
        sum(col("w")).as("den"))
      .select(col("d").as("day"), col("rev").as("rev_cents"),
        pround(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma_cents"))
      .orderBy("day")
  }

  /** x49: Mann–Kendall trend test on daily revenue — the significance
    * companion to x43's Theil–Sen slope (same day-reduced series, same
    * calendar-bounded pair grid): S = Σ sign(rev_j − rev_i) over i<j,
    * tie-corrected variance 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * kept as an exact integer, and the continuity-corrected
    * z = (S∓1)/√Var. Everything before the final 1-row IEEE tree is
    * integer-exact. */
  def mannKendall(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val sStat = daily.select(col("day").as("d1"), col("rev").as("r1"))
      .join(daily.select(col("day").as("d2"), col("rev").as("r2")),
        col("d1") < col("d2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("cast(sign(r2 - r1) as bigint)")).as("s"))
    val ties = daily.groupBy("rev").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tie18"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    nd.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
      .select(col("n_days"), col("n_pairs"), col("s").as("s_stat"),
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie18")
          .as("var18"),
        pround(expr(mkZExpr), 6).as("z"))
  }

  // Continuity-corrected z; a constant or single-day series (Var = 0)
  // has no defined statistic -> null.
  private[operators] val mkZExpr =
    "(case when var18 <= 0 then cast(null as double) " +
      "when s_stat > 0 then (cast(s_stat as double) - 1.0) " +
      "/ sqrt(cast(var18 as double) / 18.0) " +
      "when s_stat < 0 then (cast(s_stat as double) + 1.0) " +
      "/ sqrt(cast(var18 as double) / 18.0) " +
      "else 0.0 end)"

  /** x48: Hill tail-index estimate over document lengths — the
    * heavy-tail diagnostic for web corpora (α ≈ 1–2 means extreme docs
    * dominate storage; α > 3 means the tail is benign). Top-k order
    * statistics arrive via TakeOrderedAndProject (never a global
    * sort), the k-th value broadcasts back, and
    * α = (k−1)/Σ ln(x_i/x_k) runs over integer micro-nat floors so the
    * estimate is engine-exact. Ties at the boundary contribute ln(1)=0,
    * making the answer membership-independent under ties. */
  def hillTail(docs: DataFrame, k: Int = 100): DataFrame = {
    val top = docs.select(col("n_chars").cast("long").as("x"), col("doc_id"))
      .orderBy(desc("x"), col("doc_id")).limit(k)
    val xk = top.agg(min("x").as("x_k"))
    top.crossJoin(broadcast(xk))
      .select(col("x_k"), expr(
        """cast(floor(ln(cast(x as double) / cast(x_k as double))
          |  * 1000000.0) as bigint)""".stripMargin).as("lr_micro"))
      .groupBy("x_k")
      .agg(count(lit(1)).as("k"), sum("lr_micro").as("s"))
      .select(col("k"), col("x_k"),
        pround(expr(hillAlphaExpr), 6).as("hill_alpha"))
  }

  // Degenerate tail (all top-k equal) has no defined index -> null.
  private[operators] val hillAlphaExpr =
    "(case when s = 0 then cast(null as double) " +
      "else (cast(k as double) - 1.0) / (cast(s as double) / 1000000.0) end)"

  /** x46: paired sign test — within-user comparison of two event types
    * (are views more frequent than clicks FOR THE SAME USER?), the
    * nonparametric paired companion to x24's unpaired Welch t: each
    * user contributes one sign, ties drop (classic sign-test
    * convention), z = (pos − neg)/√(pos+neg). One user_id-keyed
    * combinable reduction, then a 1-row census; the normal
    * approximation is the standard large-n form. */
  def signTest(events: DataFrame, typeA: String = "view",
      typeB: String = "click"): DataFrame =
    events.where(col("event_type").isin(typeA, typeB))
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("na"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("nb"))
      .agg(sum(when(col("na") > col("nb"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("nb") > col("na"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("na") === col("nb"), 1L).otherwise(0L)).as("n_ties"))
      .select(col("n_pos"), col("n_neg"), col("n_ties"),
        pround(expr(signZExpr), 6).as("z"))

  // No untied users -> no defined statistic (guarded null).
  private[operators] val signZExpr =
    "(case when n_pos + n_neg = 0 then cast(null as double) " +
      "else (cast(n_pos as double) - cast(n_neg as double)) " +
      "/ sqrt(cast(n_pos + n_neg as double)) end)"

  /** x44: Jarque–Bera normality census per group — is l_quantity
    * normal within each return flag? Exact integer power sums to the
    * 4th moment (qty ≤ 64 ⇒ qty⁴ ≤ 1.7e7: a BIGINT sum holds ~5e11
    * rows per group; DECIMAL(38,0) is the documented swap past that),
    * then skewness g1, excess-kurtosis-based g2 and
    * JB = n/6·(g1² + (g2−3)²/4) as one shared IEEE tree over the
    * |groups|-row moment table. Map-side combinable single pass;
    * nothing fact-sized survives the first aggregate. */
  def jarqueBera(lineitem: DataFrame): DataFrame = {
    val mo = lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
    mo.select(col("l_returnflag"), col("n"),
        pround(expr(jbSkewExpr), 6).as("skewness"),
        pround(expr(jbKurtExpr), 6).as("kurtosis"),
        pround(expr(jbStatExpr), 4).as("jb_stat"))
      .orderBy("l_returnflag")
  }

  // Shared central-moment IEEE trees (textually mirrored in the oracle):
  // a_k = s_k/n; m2 = a2-a1², m3 = a3-3a1a2+2a1³,
  // m4 = a4-4a1a3+6a1²a2-3a1⁴; degenerate (constant) groups -> null.
  private val jbA = "cast(s1 as double) / cast(n as double)"
  private val jbA2 = "cast(s2 as double) / cast(n as double)"
  private val jbA3 = "cast(s3 as double) / cast(n as double)"
  private val jbA4 = "cast(s4 as double) / cast(n as double)"
  private val jbM2 = s"(($jbA2) - ($jbA) * ($jbA))"
  private val jbM3 =
    s"(($jbA3) - 3.0 * ($jbA) * ($jbA2) + 2.0 * ($jbA) * ($jbA) * ($jbA))"
  private val jbM4 = s"(($jbA4) - 4.0 * ($jbA) * ($jbA3) " +
    s"+ 6.0 * ($jbA) * ($jbA) * ($jbA2) " +
    s"- 3.0 * ($jbA) * ($jbA) * ($jbA) * ($jbA))"
  private[operators] val jbSkewExpr =
    s"(case when $jbM2 <= 0.0 then cast(null as double) " +
      s"else $jbM3 / ($jbM2 * sqrt($jbM2)) end)"
  private[operators] val jbKurtExpr =
    s"(case when $jbM2 <= 0.0 then cast(null as double) " +
      s"else $jbM4 / ($jbM2 * $jbM2) end)"
  private[operators] val jbStatExpr =
    s"(case when $jbM2 <= 0.0 then cast(null as double) " +
      s"else cast(n as double) / 6.0 * " +
      s"(($jbSkewExpr) * ($jbSkewExpr) " +
      s"+ (($jbKurtExpr) - 3.0) * (($jbKurtExpr) - 3.0) / 4.0) end)"

  // Fewer than two pairs, or a constant series, has no defined
  // correlation: CASE-guarded null, not ANSI divide-by-zero.
  private val acf1Den =
    "(sqrt(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * " +
      "sqrt(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))"
  private[operators] val acf1Expr =
    s"(case when $acf1Den = 0.0 or $acf1Den is null then cast(null as double) else " +
      "((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
      s"$acf1Den) end)"

  /** x53: sample-ratio-mismatch guardrail for the f13 A/B split — the
    * pre-flight every experiment readout runs first: does the observed
    * user allocation match the designed 50/50? A failing SRM check
    * invalidates the whole experiment (biased logging/bucketing), so it
    * gates f13/x31 downstream. χ² against the even split is
    * (n_a − n_b)²/(n_a + n_b) with 1 df; the 0.05 critical value 3.841
    * flags. One distinct-user reduction (the same user_id shuffle the
    * funnel pays), then a 2-row rollup — integers until the final
    * 1-row division. */
  def srmCheck(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("variant"))
      .groupBy("variant").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(when(col("variant") === 0, col("n"))), lit(0L)).as("n_a"),
        coalesce(sum(when(col("variant") === 1, col("n"))), lit(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        pround(expr(srmChiExpr), 9).as("chi2"),
        expr(s"cast(case when ($srmChiExpr) > 3.841 then 1 else 0 end as bigint)")
          .as("srm_flag"))

  private[operators] val srmChiExpr =
    "(case when n_a + n_b = 0 then cast(null as double) " +
      "else cast((n_a - n_b) * (n_a - n_b) as double) " +
      "/ cast(n_a + n_b as double) end)"

  /** x52: promo-vs-base decile shift ladder — the quantile treatment
    * effect read: at each decile of the line-price distribution, how
    * many cents higher (or lower) do PROMO-part line items price than
    * the rest? Mean-shift tests (x24/x27) hide distributional effects
    * that act only on the tails; the ladder shows WHERE the
    * distribution moved.
    *
    * Design for 100 TB: the quantile machinery is the bin-table
    * discipline (p4/x36) — values quantize to exact cents, reduce to
    * (group, cent, count) — a mergeable table bounded by the price
    * domain, not the row count — and every decile reads off ONE
    * cumulative window per group over bins. The 9-row decile spine is
    * a broadcast; nothing row-scale ever sorts. */
  def decileShift(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val vals = lineitem
      .join(part.select(col("p_partkey"),
        (col("p_type") === "PROMO").cast("int").as("g")),
        col("l_partkey") === col("p_partkey"))
      .select(col("g"),
        expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)")
          .as("cents"))
    val bins = vals.groupBy("g", "cents").agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy("g").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins.select(col("g"), col("cents"),
      sum("c").over(cumW).as("cum"),
      sum("c").over(Window.partitionBy("g")).as("n"))
    val spine = lineitem.sparkSession.range(1, 10)
      .select(col("id").as("decile"))
    // Deliberately LAZY (r19 measured): storing the ≤2×9-row decile
    // table looks like the q19/f11 shared-reduction win, but the two
    // final branches carry COMPLEMENTARY g filters that Catalyst pushes
    // below the g-partitioned windows into each branch's scan — the
    // eager form computes both groups in one unfiltered front and
    // measured 0.5 s SLOWER at sf0.1 (1.86 → 2.35 s).
    val dec = cum.crossJoin(broadcast(spine))
      .where(col("cum") >= expr("(n * decile + 9) div 10"))
      .groupBy("g", "decile").agg(min("cents").as("v"))
    dec.where(col("g") === 1)
      .select(col("decile"), col("v").as("promo_cents"))
      .join(dec.where(col("g") === 0)
        .select(col("decile"), col("v").as("base_cents")), "decile")
      .select(col("decile"), col("promo_cents"), col("base_cents"),
        (col("promo_cents") - col("base_cents")).as("shift_cents"))
      .orderBy("decile")
  }

  /** x51: Kendall τ-b between daily revenue and daily order count —
    * the rank-concordance companion to x37's Spearman ρ (τ-b is the
    * robust choice when the day grid has ties). Concordant/discordant
    * pair counts are exact integer comparisons over the
    * calendar-bounded day-pair grid (the x49 discipline — the join
    * input is the |days| table, never the facts), tie corrections
    * n1/n2 come from |distinct value| group counts, and only the final
    * 1-row τ-b = (C−D)/√(n0−n1)/√(n0−n2) tree is floating. */
  def kendallTau(orders: DataFrame): DataFrame = {
    val daily = orders
      .select(expr("unix_timestamp(o_orderdate) div 86400").as("day"),
        expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("day").agg(sum("c").as("rev"), count(lit(1)).as("cnt"))
    val pp = daily.select(col("day").as("d1"), col("rev").as("r1"),
        col("cnt").as("c1"))
      .join(daily.select(col("day").as("d2"), col("rev").as("r2"),
        col("cnt").as("c2")), col("d1") < col("d2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("case when (r2 > r1 and c2 > c1) or (r2 < r1 and c2 < c1) " +
          "then 1L else 0L end")).as("concordant"),
        sum(expr("case when (r2 > r1 and c2 < c1) or (r2 < r1 and c2 > c1) " +
          "then 1L else 0L end")).as("discordant"))
    val tr = daily.groupBy("rev").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("tie_rev"))
    val tc = daily.groupBy("cnt").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("tie_cnt"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    nd.crossJoin(broadcast(pp)).crossJoin(broadcast(tr))
      .crossJoin(broadcast(tc))
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("tie_rev"), col("tie_cnt"),
        pround(expr(tauBExpr), 6).as("tau_b"))
  }

  // τ-b with fully-tied-variable guard: if every pair ties on either
  // variable the denominator is 0 -> null, not a divide error.
  private[operators] val tauBExpr =
    "(case when n_pairs - tie_rev <= 0 or n_pairs - tie_cnt <= 0 " +
      "then cast(null as double) " +
      "else cast(concordant - discordant as double) " +
      "/ (sqrt(cast(n_pairs - tie_rev as double)) " +
      "* sqrt(cast(n_pairs - tie_cnt as double))) end)"

  /** x50: 2-D Pareto skyline of parts — every part no other part
    * dominates on (maximize p_size, minimize price). d dominates p iff
    * d.size >= p.size AND d.price <= p.price with at least one strict;
    * equal-(size, price) twins dominate neither, so all copies of a
    * frontier point are kept. The catalog read behind "biggest part per
    * budget": the frontier is exactly the points a rational
    * size-maximizing buyer could pick.
    *
    * Design for 100 TB: the textbook block-nested-loop skyline is O(n²)
    * row comparisons. For 2-D the frontier collapses to the DISTINCT
    * KEY domain: reduce rows to (size, min price) — one combinable
    * groupBy — then a running min over sizes DESCENDING marks size s on
    * the frontier iff m(s) < min over all larger sizes (strict: an
    * equal-price larger part dominates). That window runs over the
    * |distinct size| table (~50 rows), never the facts, and the
    * frontier broadcast-joins back to emit member rows. Prices compare
    * in exact cents. */
  def skylineParts(part: DataFrame): DataFrame = {
    val rows = part.select(col("p_partkey"), col("p_size"),
      expr("cast(floor(p_retailprice * 100.0 + 0.5) as bigint)")
        .as("price_cents"))
    val bySize = rows.groupBy("p_size").agg(min("price_cents").as("m"))
    val w = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bySize
      .withColumn("best_larger", min("m").over(w))
      .where(col("best_larger").isNull || col("m") < col("best_larger"))
      .select(col("p_size"), col("m"))
    rows.join(broadcast(frontier), Seq("p_size"))
      .where(col("price_cents") === col("m"))
      .select(col("p_partkey"), col("p_size"), col("price_cents"))
  }
}

object StatsQueries {
  import Stats._

  private val toksSql =
    "list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')"

  private val POW = Stats.hllPow51Duck

  val qs: Seq[Q] = Seq(
    Q("x4_hll_distinct",
      (s, d) => hllDistinctWords(Tables.documents(s, d)),
      Some(s"""WITH toks AS (SELECT DISTINCT unnest($toksSql) AS w FROM documents),
              |h AS (SELECT ('0x' || substr(md5(w), 1, 14))::BIGINT AS h FROM toks),
              |reg AS (SELECT h % 64 AS j, h // 64 AS r FROM h),
              |rho AS (SELECT j, 1 + len(list_filter(range(1, 51), k -> r % (1::BIGINT << k) = 0)) AS rho FROM reg),
              |m AS (SELECT j, max(rho) AS m FROM rho GROUP BY j),
              |sk AS (SELECT CAST(sum(1::BIGINT << CAST(51 - m AS INT)) AS BIGINT) AS s_present,
              |              count(*) AS nz FROM m),
              |e AS (SELECT count(*) AS exact_distinct FROM toks),
              |est AS (
              |  SELECT nz, 0.709 * 4096.0 * CAST((1::BIGINT << 51) AS DOUBLE)
              |             / CAST(s_present + (64 - nz) * (1::BIGINT << 51) AS DOUBLE) AS raw
              |  FROM sk)
              |SELECT exact_distinct, nz AS nonzero_registers,
              |       floor((CASE WHEN nz < 64 AND raw <= 160.0
              |               THEN 64.0 * ln(64.0 / CAST(64 - nz AS DOUBLE))
              |               ELSE raw END)
              |             * 10000.0 + 0.5) / 10000.0 AS hll_estimate
              |FROM e, est""".stripMargin),
      doc = "HLL-style distinct count: 64 mergeable registers, exact-integer " +
        "harmonic sum, exact count alongside for verification"),

    Q("x10_hll_per_group",
      (s, d) => hllDistinctPerGroup(Tables.events(s, d), "event_type", "user_id")
        .orderBy("event_type"),
      Some("""WITH vals AS (
             |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS v FROM events),
             |h AS (SELECT g, ('0x' || substr(md5(v), 1, 14))::BIGINT AS h FROM vals),
             |reg AS (SELECT g, h % 64 AS j, h // 64 AS r FROM h),
             |rho AS (SELECT g, j, 1 + len(list_filter(range(1, 51), k -> r % (1::BIGINT << k) = 0)) AS rho FROM reg),
             |m AS (SELECT g, j, max(rho) AS m FROM rho GROUP BY g, j),
             |sk AS (SELECT g, CAST(sum(1::BIGINT << CAST(51 - m AS INT)) AS BIGINT) AS s_present,
             |              count(*) AS nz FROM m GROUP BY g),
             |e AS (SELECT g, count(*) AS exact_distinct FROM vals GROUP BY g),
             |est AS (
             |  SELECT g, nz, 0.709 * 4096.0 * CAST((1::BIGINT << 51) AS DOUBLE)
             |             / CAST(s_present + (64 - nz) * (1::BIGINT << 51) AS DOUBLE) AS raw
             |  FROM sk)
             |SELECT e.g AS event_type, exact_distinct, nz AS nonzero_registers,
             |       floor((CASE WHEN nz < 64 AND raw <= 160.0
             |               THEN 64.0 * ln(64.0 / CAST(64 - nz AS DOUBLE))
             |               ELSE raw END)
             |             * 10000.0 + 0.5) / 10000.0 AS hll_estimate
             |FROM e JOIN est ON e.g = est.g ORDER BY event_type""".stripMargin),
      doc = "per-group HLL: one mergeable 64-register sketch per event_type " +
        "(distinct users), built in a single map-side-combinable pass"),

    Q("x5_corr_len_tokens",
      (s, d) => corrExact(
        Tables.documents(s, d)
          .select(col("n_chars"),
            expr(s"cast(size(${Dedup.tokensExpr}) as bigint)").as("n_toks")),
        "n_chars", "n_toks"),
      Some(s"""WITH v AS (
              |  SELECT n_chars AS x, CAST(len($toksSql) AS BIGINT) AS y FROM documents),
              |mo AS (
              |  SELECT count(*) AS n,
              |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              |         CAST(sum(x * x) AS BIGINT) AS sxx,
              |         CAST(sum(y * y) AS BIGINT) AS syy,
              |         CAST(sum(x * y) AS BIGINT) AS sxy
              |  FROM v)
              |SELECT n AS n_rows,
              |       floor(CAST(n * sxy - sx * sy AS DOUBLE) /
              |             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
              |              sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
              |             * 1000000.0 + 0.5) / 1000000.0 AS corr
              |FROM mo""".stripMargin),
      doc = "exact Pearson correlation (chars vs tokens) from integer moments " +
        "— one map-side-combinable aggregate"),

    Q("x6_zorder_clustering",
      (s, d) => zorderClustering(Tables.events(s, d)).orderBy("bucket"),
      Some(s"""WITH k AS (
              |  SELECT user_id % 256 AS x,
              |         CAST(floor(value) AS BIGINT) % 256 AS y
              |  FROM events),
              |z AS (SELECT x, y, ${zorderTerms("x", "y", "//")} AS zkey FROM k)
              |SELECT zkey // 1024 AS bucket, count(*) AS n_rows,
              |       min(x) AS x_min, max(x) AS x_max,
              |       min(y) AS y_min, max(y) AS y_max
              |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin),
      doc = "Z-order (Morton) clustering key + per-bucket two-dimension " +
        "min/max spans — the layout stats multi-column data skipping prunes on"),

    Q("x19_ks_two_sample",
      (s, d) => ksTwoSample(Tables.events(s, d), "purchase", "click"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
             |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb
             |  FROM events WHERE event_type IN ('purchase', 'click')
             |  GROUP BY 1),
             |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             |             CAST(sum(nb) AS BIGINT) AS tb FROM b),
             |c AS (SELECT cents,
             |        sum(na) OVER (ORDER BY cents
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             |        sum(nb) OVER (ORDER BY cents
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
             |      FROM b),
             |g AS (SELECT cents, ta, tb,
             |        floor(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
             |                  - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
             |              * 1000000000.0 + 0.5) / 1000000000.0 AS gap
             |      FROM c, t),
             |m AS (SELECT max(gap) AS ks_stat FROM g)
             |SELECT ta AS n_a, tb AS n_b, ks_stat,
             |       min(cents) AS ks_at_cents
             |FROM g, m WHERE gap = ks_stat GROUP BY 1, 2, 3""".stripMargin),
      doc = "two-sample Kolmogorov-Smirnov statistic between purchase and " +
        "click value distributions: cent-quantized bins bound the CDF " +
        "window to a constant domain; max |F_a - F_b| with its location"),

    Q("x20_chi2_table",
      (s, d) => chi2Contingency(Tables.documents(s, d))
        .orderBy("lang", "source"),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
             |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cnt GROUP BY 1),
             |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cnt GROUP BY 1),
             |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cnt),
             |f AS (SELECT rl.lang, cs.source,
             |             CAST(coalesce(o, 0) AS BIGINT) AS observed,
             |             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
             |      FROM rl CROSS JOIN cs CROSS JOIN nn
             |      LEFT JOIN cnt ON cnt.lang = rl.lang AND cnt.source = cs.source)
             |SELECT lang, source, observed,
             |       floor(e * 1000000.0 + 0.5) / 1000000.0 AS expected,
             |       floor((CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS chi2_contrib
             |FROM f ORDER BY lang, source""".stripMargin),
      doc = "chi-square contingency table (lang x source), zero-observed " +
        "cells included: one combinable count pass, marginals from the " +
        "counted grid, broadcast cross for the full grid"),

    Q("x21_chi2_stat",
      (s, d) => chi2Total(Tables.documents(s, d)),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
             |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cnt GROUP BY 1),
             |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cnt GROUP BY 1),
             |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cnt),
             |f AS (SELECT rl.lang, cs.source,
             |             CAST(coalesce(o, 0) AS BIGINT) AS observed,
             |             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
             |      FROM rl CROSS JOIN cs CROSS JOIN nn
             |      LEFT JOIN cnt ON cnt.lang = rl.lang AND cnt.source = cs.source),
             |cc AS (SELECT lang, source,
             |         CAST(floor((CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e
             |                    * 1000000000.0 + 0.5) / 1000000000.0
             |              AS DECIMAL(28,9)) AS contrib
             |       FROM f)
             |SELECT CAST(sum(contrib) AS DOUBLE) AS chi2,
             |       CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT) AS dof
             |FROM cc""".stripMargin),
      doc = "chi-square statistic + degrees of freedom: per-cell " +
        "contributions rounded then summed as DECIMAL, so the scalar is " +
        "exact and independent of partitioning/addition order"),

    Q("x22_group_moments",
      (s, d) => groupMoments(Tables.events(s, d), "event_type")
        .orderBy("event_type"),
      Some("""WITH b AS (
             |  SELECT event_type,
             |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
             |  FROM events),
             |m AS (
             |  SELECT event_type, count(*) AS n,
             |         sum(CAST(c AS DECIMAL(38,0))) AS m1,
             |         sum(CAST(c * c AS DECIMAL(38,0))) AS m2,
             |         sum(CAST(c * c * c AS DECIMAL(38,0))) AS m3
             |  FROM b GROUP BY 1),
             |a AS (
             |  SELECT event_type, n,
             |         CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE) AS a1,
             |         CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
             |         CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3
             |  FROM m)
             |SELECT event_type, n,
             |       floor(a1 / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_val,
             |       floor((a2 - a1 * a1) / 10000.0 * 1000000.0 + 0.5) / 1000000.0 AS var_val,
             |       floor((a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1)
             |             / ((a2 - a1 * a1) * sqrt(a2 - a1 * a1))
             |             * 1000000.0 + 0.5) / 1000000.0 AS skewness
             |FROM a ORDER BY event_type""".stripMargin),
      doc = "per-group moment profile (mean/variance/skewness) from " +
        "exact DECIMAL power sums of cent-quantized values: one " +
        "mergeable pass, sqrt-based x^1.5 (no libm pow drift)"),

    Q("x24_welch_ttest",
      (s, d) => welchTPairwise(Tables.documents(s, d), "source", "n_chars")
        .orderBy("group_a", "group_b"),
      Some(s"""WITH mo AS (
              |  SELECT source AS g, count(*) AS n,
              |         CAST(sum(n_chars) AS BIGINT) AS sx,
              |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
              |  FROM documents GROUP BY 1)
              |SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
              |       floor(($welchTExpr) * 1000000.0 + 0.5) / 1000000.0 AS t_stat,
              |       floor(($welchDofExpr) * 10000.0 + 0.5) / 10000.0 AS dof
              |FROM mo a JOIN mo b ON a.g < b.g
              |ORDER BY group_a, group_b""".stripMargin),
      doc = "pairwise Welch's t-test (doc length by source): one " +
        "combinable moment pass, bounded self-join, shared-text IEEE " +
        "expression tree for t and Welch-Satterthwaite dof"),

    Q("x25_gini",
      (s, d) => giniUserValue(Tables.events(s, d)),
      Some("""WITH t AS (
             |  SELECT user_id,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1),
             |bins AS (SELECT cents // 100 AS u, count(*) AS cnt FROM t GROUP BY 1),
             |cum AS (
             |  SELECT u, cnt,
             |         sum(cnt) OVER w - cnt AS cp,
             |         sum(CAST(u AS HUGEINT) * CAST(cnt AS HUGEINT)) OVER w
             |           - CAST(u AS HUGEINT) * CAST(cnt AS HUGEINT) AS tp
             |  FROM bins
             |  WINDOW w AS (ORDER BY u ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |a AS (
             |  SELECT CAST(sum(cnt) AS BIGINT) AS n_users,
             |         sum(CAST(u AS HUGEINT) * CAST(cnt AS HUGEINT)) AS s_units,
             |         sum(CAST(cnt AS HUGEINT) *
             |             (CAST(u AS HUGEINT) * CAST(cp AS HUGEINT) - tp)) AS p
             |  FROM cum)
             |SELECT n_users, CAST(s_units AS BIGINT) AS total_units,
             |       floor(CAST(p AS DOUBLE)
             |             / (CAST(n_users AS DOUBLE) * CAST(s_units AS DOUBLE))
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS gini
             |FROM a""".stripMargin),
      doc = "Gini coefficient of per-user total event value: combinable " +
        "per-user totals, unit-binned domain so the one global window " +
        "runs over bins not users, exact integer pair-sum telescoping"),

    Q("x26_hll_algebra",
      (s, d) => hllSetAlgebra(Tables.events(s, d), "event_type", "user_id")
        .orderBy("group_a", "group_b"),
      Some(s"""WITH vals AS (
              |  SELECT DISTINCT event_type AS g, CAST(user_id AS VARCHAR) AS v FROM events),
              |h AS (SELECT g, ('0x' || substr(md5(v), 1, 14))::BIGINT AS h FROM vals),
              |reg AS (SELECT g, h % 64 AS j, h // 64 AS r FROM h),
              |rho AS (SELECT g, j, 1 + len(list_filter(range(1, 51), k -> r % (1::BIGINT << k) = 0)) AS rho FROM reg),
              |m AS (SELECT g, j, max(rho) AS m FROM rho GROUP BY 1, 2),
              |dense AS (
              |  SELECT gs.g, jj.j, coalesce(m.m, 0) AS m
              |  FROM (SELECT DISTINCT g FROM vals) gs
              |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) jj
              |  LEFT JOIN m ON m.g = gs.g AND m.j = jj.j),
              |singles AS (
              |  SELECT g, CAST(sum(1::BIGINT << CAST(51 - m AS INT)) AS BIGINT) AS s,
              |         CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz
              |  FROM dense GROUP BY 1),
              |un AS (
              |  SELECT a.g AS ga, b.g AS gb,
              |         CAST(sum(1::BIGINT << CAST(51 - greatest(a.m, b.m) AS INT)) AS BIGINT) AS su,
              |         CAST(sum(CASE WHEN greatest(a.m, b.m) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nzu
              |  FROM dense a JOIN dense b ON a.g < b.g AND a.j = b.j
              |  GROUP BY 1, 2),
              |ex AS (SELECT g, count(*) AS exact FROM vals GROUP BY 1),
              |ei AS (
              |  SELECT x.g AS ga, y.g AS gb, count(*) AS ein
              |  FROM vals x JOIN vals y ON x.v = y.v AND x.g < y.g
              |  GROUP BY 1, 2),
              |p AS (
              |  SELECT a.g AS ga, b.g AS gb, a.s AS sa, a.nz AS nza,
              |         b.s AS sb, b.nz AS nzb
              |  FROM singles a JOIN singles b ON a.g < b.g)
              |SELECT p.ga AS group_a, p.gb AS group_b,
              |       xa.exact AS exact_a, xb.exact AS exact_b,
              |       coalesce(ei.ein, 0) AS exact_inter,
              |       floor((${hllEstSql("sa", "nza", POW)}) * 10000.0 + 0.5) / 10000.0 AS hll_a,
              |       floor((${hllEstSql("sb", "nzb", POW)}) * 10000.0 + 0.5) / 10000.0 AS hll_b,
              |       floor((${hllEstSql("su", "nzu", POW)}) * 10000.0 + 0.5) / 10000.0 AS hll_union,
              |       floor(((${hllEstSql("sa", "nza", POW)}) + (${hllEstSql("sb", "nzb", POW)}) - (${hllEstSql("su", "nzu", POW)})) * 10000.0 + 0.5) / 10000.0 AS hll_intersect
              |FROM p
              |JOIN un ON un.ga = p.ga AND un.gb = p.gb
              |JOIN ex xa ON xa.g = p.ga
              |JOIN ex xb ON xb.g = p.gb
              |LEFT JOIN ei ON ei.ga = p.ga AND ei.gb = p.gb
              |ORDER BY group_a, group_b""".stripMargin),
      doc = "HLL set algebra per event_type pair: register-wise max " +
        "MERGE gives the union estimate without re-scanning facts " +
        "(the mergeability that makes sketches warehouse-native), " +
        "inclusion-exclusion intersection, exacts alongside for the gate"),

    Q("x27_cuped",
      (s, d) => cupedByVariant(Tables.events(s, d)),
      Some(s"""WITH u AS (
              |  SELECT user_id,
              |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
              |                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              |                  ELSE 0 END) AS BIGINT) AS x,
              |         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16 00:00:00')
              |                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              |                  ELSE 0 END) AS BIGINT) AS y
              |  FROM events GROUP BY 1),
              |uv AS (SELECT user_id % 2 AS variant, x, y FROM u),
              |g AS (
              |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
              |         CAST(sum(y) AS BIGINT) AS sy,
              |         CAST(sum(x * x) AS BIGINT) AS sxx,
              |         CAST(sum(x * y) AS BIGINT) AS sxy
              |  FROM uv),
              |v AS (
              |  SELECT variant, count(*) AS nv,
              |         CAST(sum(x) AS BIGINT) AS svx, CAST(sum(y) AS BIGINT) AS svy,
              |         CAST(sum(x * x) AS BIGINT) AS svxx,
              |         CAST(sum(y * y) AS BIGINT) AS svyy,
              |         CAST(sum(x * y) AS BIGINT) AS svxy
              |  FROM uv GROUP BY 1)
              |SELECT variant, nv AS n_users,
              |       floor(($cupedTheta) * 1000000000.0 + 0.5) / 1000000000.0 AS theta,
              |       floor(($cupedMeanRaw) * 1000000.0 + 0.5) / 1000000.0 AS mean_raw,
              |       floor(($cupedMeanAdj) * 1000000.0 + 0.5) / 1000000.0 AS mean_adj,
              |       floor(($cupedVarRaw) * 1000000.0 + 0.5) / 1000000.0 AS var_raw,
              |       floor(($cupedVarAdj) * 1000000.0 + 0.5) / 1000000.0 AS var_adj
              |FROM v CROSS JOIN g ORDER BY variant""".stripMargin),
      doc = "CUPED variance reduction (Deng et al. WSDM'13): per-user " +
        "pre/post cent totals in one conditional pass, pooled theta = " +
        "cov/var from exact moments, adjusted mean + variance per " +
        "hash-split variant; shared-text IEEE trees"),

    Q("x28_mann_whitney",
      (s, d) => mannWhitneyU(Tables.events(s, d)),
      Some(s"""WITH f AS (
              |  SELECT event_type AS g, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
              |  FROM events WHERE event_type IN ('click', 'purchase')),
              |bins AS (
              |  SELECT v,
              |         CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
              |         CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
              |  FROM f GROUP BY 1),
              |r AS (
              |  SELECT v, ca, cb, ca + cb AS cnt,
              |         sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |           - (ca + cb) AS cp
              |  FROM bins),
              |m AS (
              |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
              |         sum(CAST(ca AS HUGEINT) * CAST(2 * cp + cnt + 1 AS HUGEINT)) AS r2a,
              |         sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)
              |             - CAST(cnt AS HUGEINT)) AS tt
              |  FROM r)
              |SELECT na AS n_a, nb AS n_b,
              |       $mwUExpr AS u_a,
              |       floor(($mwZExpr) * 1000000.0 + 0.5) / 1000000.0 AS z
              |FROM m""".stripMargin),
      doc = "Mann-Whitney U / rank-sum test (click vs purchase value): " +
        "ranks assigned over cent-value BINS (x25 discipline), exact " +
        "doubled-rank + tie-correction integers, shared-tree z"),

    Q("x29_ols_price_qty",
      (s, d) => olsPriceOnQty(Tables.lineitem(s, d)),
      Some(s"""WITH f AS (
              |  SELECT l_returnflag AS flag,
              |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
              |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
              |  FROM lineitem),
              |mo AS (
              |  SELECT flag, count(*) AS n,
              |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              |         sum(CAST(x * x AS HUGEINT)) AS sxx,
              |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
              |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
              |  FROM f GROUP BY 1),
              |d AS (
              |  SELECT flag, n,
              |         CAST(n AS HUGEINT) * sxy - sx * sy AS num,
              |         CAST(n AS HUGEINT) * sxx - sx * sx AS den,
              |         CAST(n AS HUGEINT) * syy - sy * sy AS deny,
              |         sx, sy
              |  FROM mo)
              |SELECT flag, n,
              |       floor(($olsSlope) * 1000000.0 + 0.5) / 1000000.0 AS slope_cents_per_unit,
              |       floor(($olsIntercept) * 10000.0 + 0.5) / 10000.0 AS intercept_cents,
              |       floor(($olsR2) * 1000000000.0 + 0.5) / 1000000000.0 AS r2
              |FROM d ORDER BY flag""".stripMargin),
      doc = "per-returnflag OLS of extendedprice on quantity: one " +
        "combinable DECIMAL(38,0) moment pass, exact integer normal-" +
        "equation terms, shared-tree slope/intercept/R^2"),

    Q("x30_daily_autocorr",
      (s, d) => dailyRevenueAutocorr(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1),
              |p AS (
              |  SELECT t.rev AS x, u.rev AS y
              |  FROM daily t JOIN daily u ON u.day = t.day + 1),
              |mo AS (
              |  SELECT count(*) AS n,
              |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
              |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
              |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
              |  FROM p)
              |SELECT n AS n_pairs,
              |       floor(($acf1Expr) * 1000000000.0 + 0.5) / 1000000000.0 AS autocorr_lag1
              |FROM mo""".stripMargin),
      doc = "lag-1 autocorrelation of daily revenue: facts reduce to one " +
        "row per day, lag pairing is an equi-join on day+1 (gap days " +
        "excluded, never windowed), Pearson from exact integer moments"),

    Q("x31_prop_ztest",
      (s, d) => propZTest(Tables.events(s, d)),
      Some(s"""WITH per AS (
              |  SELECT user_id,
              |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
              |  FROM events GROUP BY 1),
              |v AS (
              |  SELECT user_id % 2 AS variant, count(*) AS n,
              |         CAST(sum(s) AS BIGINT) AS k
              |  FROM per GROUP BY 1),
              |a AS (SELECT n AS na, k AS ka FROM v WHERE variant = 0),
              |b AS (SELECT n AS nb, k AS kb FROM v WHERE variant = 1)
              |SELECT na AS n_a, ka AS k_a, nb AS n_b, kb AS k_b,
              |       floor(($propPa) * 1000000.0 + 0.5) / 1000000.0 AS p_a,
              |       floor(($propPb) * 1000000.0 + 0.5) / 1000000.0 AS p_b,
              |       floor(($propZExpr) * 1000000.0 + 0.5) / 1000000.0 AS z
              |FROM a CROSS JOIN b""".stripMargin),
      doc = "two-proportion z-test on user conversion between hash-split " +
        "variants: per-user conditional-max pass, two (n, k) rows, " +
        "pooled-variance shared-tree z"),

    Q("x32_dow_seasonality",
      (s, d) => dowSeasonality(Tables.events(s, d)),
      Some("""WITH per AS (
             |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS dow,
             |         count(*) AS n_events,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |  FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM per)
             |SELECT dow, n_events, rev AS revenue_cents,
             |       floor(cast(rev as double) / cast(tot as double)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS revenue_share
             |FROM per CROSS JOIN tot ORDER BY dow""".stripMargin),
      doc = "day-of-week revenue seasonality: 7-bucket integer epoch-day " +
        "arithmetic (engine week conventions avoided), one combinable " +
        "pass, broadcast total for shares"),

    Q("x33_winsorized_mean",
      (s, d) => winsorizedMean(Tables.events(s, d)),
      Some(s"""WITH bins AS (
              |  SELECT event_type AS g,
              |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
              |         count(*) AS cnt
              |  FROM events GROUP BY 1, 2),
              |cum AS (
              |  SELECT g, v, cnt,
              |         sum(cnt) OVER (PARTITION BY g ORDER BY v
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM bins),
              |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
              |lo AS (SELECT g, min(v) AS lo FROM cum JOIN tot USING (g)
              |       WHERE cum >= (n + 19) // 20 GROUP BY g),
              |hi AS (SELECT g, min(v) AS hi FROM cum JOIN tot USING (g)
              |       WHERE cum >= (19 * n + 19) // 20 GROUP BY g),
              |sw AS (
              |  SELECT g, CAST(sum(greatest(lo, least(hi, v)) * cnt) AS BIGINT) AS sw
              |  FROM bins JOIN lo USING (g) JOIN hi USING (g) GROUP BY g)
              |SELECT g AS event_type, n, lo AS lo_cents, hi AS hi_cents,
              |       floor(($winsorMeanExpr) * 1000000.0 + 0.5) / 1000000.0 AS winsorized_mean
              |FROM sw JOIN tot USING (g) JOIN lo USING (g) JOIN hi USING (g)
              |ORDER BY event_type""".stripMargin),
      doc = "5/95 winsorized mean per event type: cent-bin reduction, " +
        "per-group percentile window over BINS, broadcast clamp bounds, " +
        "exact integer winsorized sums; percentile convention pinned " +
        "as smallest value reaching ceil(p*n)"),

    Q("x34_daily_percentiles",
      (s, d) => dailyPercentiles(Tables.events(s, d)),
      Some("""WITH bins AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |cum AS (
             |  SELECT day, v, cnt,
             |         sum(cnt) OVER (PARTITION BY day ORDER BY v
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM bins),
             |tot AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
             |p50 AS (SELECT day, min(v) AS p50_cents FROM cum JOIN tot USING (day)
             |        WHERE cum >= (n + 1) // 2 GROUP BY day),
             |p95 AS (SELECT day, min(v) AS p95_cents FROM cum JOIN tot USING (day)
             |        WHERE cum >= (19 * n + 19) // 20 GROUP BY day)
             |SELECT day, n, p50_cents, p95_cents
             |FROM tot JOIN p50 USING (day) JOIN p95 USING (day)
             |ORDER BY day""".stripMargin),
      doc = "per-day p50/p95 value census: (day, cent) bin reduction, " +
        "percentile windows over bins, broadcast day totals; all-integer " +
        "output, ceil(q*n) convention"),

    Q("x35_benford",
      (s, d) => benfordDigits(Tables.events(s, d)),
      Some(s"""WITH per AS (
              |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
              |         count(*) AS n
              |  FROM (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
              |        FROM events) s0
              |  WHERE v > 0 GROUP BY 1),
              |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per),
              |e(digit, expected) AS (VALUES $benfordSqlValues)
              |SELECT CAST(e.digit AS BIGINT) AS digit,
              |       coalesce(n, 0) AS n,
              |       floor(cast(coalesce(n, 0) as double) / cast(t as double)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS share,
              |       CAST(e.expected AS DOUBLE) AS benford_expected
              |FROM per RIGHT JOIN e ON per.digit = e.digit
              |CROSS JOIN tot ORDER BY digit""".stripMargin),
      doc = "Benford first-digit census: leading digit from the decimal " +
        "STRING of exact cents (no float log10), expectations from a " +
        "shared 12-dp literal table, one combinable 9-row count pass"),

    Q("x36_mad",
      (s, d) => madValue(Tables.events(s, d)),
      Some("""WITH bins AS (
             |  SELECT event_type AS g,
             |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
             |med AS (
             |  SELECT g, min(v) AS med FROM (
             |    SELECT g, v, sum(cnt) OVER (PARTITION BY g ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |    FROM bins) c JOIN tot USING (g)
             |  WHERE cum >= (n + 1) // 2 GROUP BY g),
             |dev AS (
             |  SELECT g, abs(v - med) AS dv, CAST(sum(cnt) AS BIGINT) AS cnt
             |  FROM bins JOIN med USING (g) GROUP BY 1, 2),
             |mad AS (
             |  SELECT g, min(dv) AS mad_cents FROM (
             |    SELECT g, dv, sum(cnt) OVER (PARTITION BY g ORDER BY dv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |    FROM dev) c JOIN tot USING (g)
             |  WHERE cum >= (n + 1) // 2 GROUP BY g)
             |SELECT g AS event_type, n, med AS median_cents, mad_cents
             |FROM tot JOIN med USING (g) JOIN mad USING (g)
             |ORDER BY event_type""".stripMargin),
      doc = "median absolute deviation per event type (robust scale): " +
        "both medians over BIN tables — the deviation table is a " +
        "projection of the first bin table, observations never re-sorted"),

    Q("x37_spearman",
      (s, d) => spearmanQtyPrice(Tables.lineitem(s, d)),
      Some(s"""WITH f AS (
              |  SELECT CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qx,
              |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS px
              |  FROM lineitem),
              |bx AS (SELECT qx, count(*) AS cnt FROM f GROUP BY 1),
              |rx AS (SELECT qx, 2 * sum(cnt) OVER (ORDER BY qx ROWS BETWEEN
              |         UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1 AS x
              |       FROM bx),
              |bp AS (SELECT px, count(*) AS cnt FROM f GROUP BY 1),
              |rp AS (SELECT px, 2 * sum(cnt) OVER (ORDER BY px ROWS BETWEEN
              |         UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1 AS y
              |       FROM bp),
              |j AS (SELECT x, y FROM f JOIN rx USING (qx) JOIN rp USING (px)),
              |mo AS (
              |  SELECT count(*) AS n,
              |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
              |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
              |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
              |  FROM j)
              |SELECT n AS n_rows,
              |       floor(($acf1Expr) * 1000000000.0 + 0.5) / 1000000000.0 AS spearman_rho
              |FROM mo""".stripMargin),
      doc = "Spearman rank correlation (quantity vs price): tie-aware " +
        "doubled average ranks assigned over cent BIN tables (windows " +
        "see bins, never observations), one combinable DECIMAL moment " +
        "pass, shared Pearson tree"),

    Q("x38_cusum",
      (s, d) => cusumChangepoint(Tables.events(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |  FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS t, count(*) AS n FROM daily),
             |cs AS (
             |  SELECT day,
             |         sum(CAST(rev AS HUGEINT)) OVER (ORDER BY day ROWS BETWEEN
             |           UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             |         CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS k
             |  FROM daily),
             |dd AS (SELECT day, abs(CAST(n AS HUGEINT) * s - k * t) AS d, n
             |       FROM cs CROSS JOIN tot)
             |SELECT n AS n_days, day AS cp_day,
             |       floor(CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
             |             * 10000.0 + 0.5) / 10000.0 AS cusum_max_cents
             |FROM dd ORDER BY d DESC, day LIMIT 1""".stripMargin),
      doc = "CUSUM changepoint on daily revenue: integer D_k = n*S_k - k*T " +
        "(division-free argmax of |S_k - k*mean|), cumulative window over " +
        "the day-bounded table, earliest-day tiebreak via max-struct"),

    Q("x39_cramers_v",
      (s, d) => cramersV(Tables.documents(s, d)),
      Some(s"""WITH cnt AS (
              |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
              |rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cnt GROUP BY 1),
              |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cnt GROUP BY 1),
              |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cnt),
              |f AS (SELECT rl.lang, cs.source,
              |             CAST(coalesce(o, 0) AS BIGINT) AS observed,
              |             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e
              |      FROM rl CROSS JOIN cs CROSS JOIN nn
              |      LEFT JOIN cnt ON cnt.lang = rl.lang AND cnt.source = cs.source),
              |cc AS (SELECT lang, source, observed,
              |         CAST(floor((CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e
              |                    * 1000000000.0 + 0.5) / 1000000000.0
              |              AS DECIMAL(28,9)) AS contrib
              |       FROM f),
              |t AS (SELECT CAST(sum(contrib) AS DOUBLE) AS chi2,
              |             CAST(sum(observed) AS BIGINT) AS n,
              |             count(DISTINCT lang) AS r,
              |             count(DISTINCT source) AS c
              |      FROM cc)
              |SELECT n AS n_docs,
              |       floor(chi2 * 1000000000.0 + 0.5) / 1000000000.0 AS chi2,
              |       floor(($cramersVExpr)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS cramers_v
              |FROM t""".stripMargin),
      doc = "Cramér's V effect size over lang × source: the x21 exact " +
        "decimal chi2 normalized by n·min(r-1, c-1) through one shared " +
        "IEEE tree; 1×k grids CASE-guarded null"),

    Q("x40_lorenz_deciles",
      (s, d) => lorenzDeciles(Tables.events(s, d)),
      Some("""WITH per AS (
             |  SELECT user_id,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
             |  FROM events GROUP BY 1),
             |b AS (SELECT v, count(*) AS cnt FROM per GROUP BY 1),
             |c AS (
             |  SELECT v, cnt,
             |         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cu,
             |         sum(CAST(v AS HUGEINT) * cnt) OVER (ORDER BY v
             |           ROWS UNBOUNDED PRECEDING) AS cr
             |  FROM b),
             |t AS (SELECT count(*) AS n, CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS t
             |      FROM per),
             |d AS (SELECT unnest(range(1, 11)) AS decile),
             |j AS (
             |  SELECT decile, (decile * n + 9) // 10 AS rd, v, cnt, cu, cr, t,
             |         row_number() OVER (PARTITION BY decile ORDER BY v) AS rn
             |  FROM c CROSS JOIN t CROSS JOIN d
             |  WHERE cu >= (decile * n + 9) // 10)
             |SELECT decile, rd AS user_rank,
             |       floor(CAST(cr - (cu - rd) * CAST(v AS HUGEINT) AS DOUBLE)
             |             / CAST(t AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS rev_share
             |FROM j WHERE rn = 1 ORDER BY decile""".stripMargin),
      doc = "exact Lorenz decile curve of per-user value: cent-bin " +
        "windows, integer ceil(d*n/10) boundary ranks, same-bin equality " +
        "makes the boundary split exact (no interpolation error)"),

    Q("x41_tukey_fences",
      (s, d) => tukeyOutliers(Tables.events(s, d)),
      Some("""WITH bins AS (
             |  SELECT event_type AS g,
             |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
             |c AS (
             |  SELECT g, v, cnt, n,
             |         sum(cnt) OVER (PARTITION BY g ORDER BY v
             |           ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM bins JOIN tot USING (g)),
             |q AS (
             |  SELECT g,
             |         min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
             |         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3
             |  FROM c GROUP BY 1),
             |f AS (SELECT g, q1, q3,
             |             CAST(q1 AS DOUBLE) - CAST(q3 - q1 AS DOUBLE) * 1.5 AS lo,
             |             CAST(q3 AS DOUBLE) + CAST(q3 - q1 AS DOUBLE) * 1.5 AS hi
             |      FROM q)
             |SELECT g AS event_type, CAST(sum(cnt) AS BIGINT) AS n,
             |       max(q1) AS q1_cents, max(q3) AS q3_cents,
             |       CAST(sum(CASE WHEN CAST(v AS DOUBLE) < lo THEN cnt ELSE 0 END) AS BIGINT) AS n_low,
             |       CAST(sum(CASE WHEN CAST(v AS DOUBLE) > hi THEN cnt ELSE 0 END) AS BIGINT) AS n_high,
             |       floor(CAST(sum(CASE WHEN CAST(v AS DOUBLE) < lo THEN cnt ELSE 0 END)
             |                  + sum(CASE WHEN CAST(v AS DOUBLE) > hi THEN cnt ELSE 0 END) AS DOUBLE)
             |             / CAST(sum(cnt) AS DOUBLE)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS outlier_share
             |FROM bins JOIN f USING (g)
             |GROUP BY g ORDER BY event_type""".stripMargin),
      doc = "Tukey-fence outlier census per event type: ceil-convention " +
        "quartiles off cent bins, exact half-cent fences, tail counts " +
        "from a second bins pass (no new fact scan), broadcast fence join"),

    Q("x42_dow_anova",
      (s, d) => dowAnova(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1),
              |g AS (
              |  SELECT day % 7 AS dow, count(*) AS ng,
              |         sum(CAST(rev AS HUGEINT)) AS sg,
              |         sum(CAST(rev AS HUGEINT) * rev) AS ssqg
              |  FROM daily GROUP BY 1),
              |q AS (
              |  SELECT ng, ssqg, sg, (sg * sg) // ng AS term FROM g),
              |t AS (
              |  SELECT CAST(sum(ng) AS BIGINT) AS n,
              |         CAST(sum(sg) AS HUGEINT) AS s,
              |         CAST(sum(ssqg) AS HUGEINT) AS sxx,
              |         CAST(sum(term) AS HUGEINT) AS st,
              |         count(*) AS n_dows
              |  FROM q)
              |SELECT n AS n_days, n_dows,
              |       floor(($etaSqExpr)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS eta_sq
              |FROM t""".stripMargin),
      doc = "day-of-week seasonality strength (ANOVA eta^2): day-reduced " +
        "facts to 7 weekday moment rows, exact integer floor-division " +
        "between-group terms, shared IEEE tree with zero-variance guard"),

    Q("x43_theil_sen",
      (s, d) => theilSen(Tables.orders(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders GROUP BY 1),
             |pairs AS (
             |  SELECT CAST(floor(CAST(b.rev - a.rev AS DOUBLE)
             |           / CAST(b.day - a.day AS DOUBLE) * 1000000.0) AS BIGINT) AS sl
             |  FROM daily a JOIN daily b ON a.day < b.day),
             |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
             |med AS (
             |  SELECT min(sl) AS slope_micro_p50 FROM (
             |    SELECT sl, CAST(count(*) OVER (ORDER BY sl RANGE BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |    FROM pairs) c, np WHERE cum >= (n_pairs + 1) // 2)
             |SELECT (SELECT count(*) FROM daily) AS n_days, n_pairs,
             |       slope_micro_p50
             |FROM np CROSS JOIN med""".stripMargin),
      doc = "Theil-Sen robust daily-revenue trend: facts reduce once to " +
        "exact cents per calendar day, |days|^2/2 pairwise slopes " +
        "(calendar-bounded, not data-bounded), x36 lower median over the " +
        "|distinct slope| cumulative table in integer micro-units"),

    Q("x44_jarque_bera",
      (s, d) => jarqueBera(Tables.lineitem(s, d)),
      Some(s"""WITH mo AS (
              |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(x) AS BIGINT) AS s1,
              |         CAST(sum(x*x) AS BIGINT) AS s2,
              |         CAST(sum(x*x*x) AS BIGINT) AS s3,
              |         CAST(sum(x*x*x*x) AS BIGINT) AS s4
              |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
              |        FROM lineitem)
              |  GROUP BY l_returnflag)
              |SELECT l_returnflag, n,
              |       floor(($jbSkewExpr) * 1000000.0 + 0.5) / 1000000.0 AS skewness,
              |       floor(($jbKurtExpr) * 1000000.0 + 0.5) / 1000000.0 AS kurtosis,
              |       floor(($jbStatExpr) * 10000.0 + 0.5) / 10000.0 AS jb_stat
              |FROM mo ORDER BY l_returnflag""".stripMargin),
      doc = "Jarque-Bera normality census per return flag: exact integer " +
        "power sums to the 4th moment in one combinable pass, skewness/" +
        "kurtosis/JB as one shared IEEE tree over |groups| moment rows, " +
        "zero-variance null guard"),

    Q("x45_ewma_revenue",
      (s, d) => ewmaRevenue(Tables.orders(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders GROUP BY 1)
             |SELECT a.day AS day, a.rev AS rev_cents,
             |       floor(CAST(sum(CAST(pow(8.0, a.day - b.day)
             |               * pow(10.0, 14 - (a.day - b.day)) AS DECIMAL(38,0))
             |               * b.rev) AS DOUBLE)
             |             / CAST(sum(CAST(pow(8.0, a.day - b.day)
             |               * pow(10.0, 14 - (a.day - b.day)) AS DECIMAL(38,0)))
             |               AS DOUBLE)
             |             * 1000000.0 + 0.5) / 1000000.0 AS ewma_cents
             |FROM daily a JOIN daily b
             |  ON b.day <= a.day AND b.day > a.day - 15
             |GROUP BY a.day, a.rev ORDER BY day""".stripMargin),
      doc = "trailing 15-day EWMA of daily revenue: day-reduced facts, " +
        "calendar-bounded range self-join (<=15 partners/row), EXACT " +
        "integer weights 8^k*10^(14-k) — every power an integer below " +
        "2^53 so correctly-rounded pow returns it exactly; DECIMAL sums, " +
        "bit-identical smoothing, true day-distance decay across gaps"),

    Q("x46_sign_test",
      (s, d) => signTest(Tables.events(s, d)),
      Some(s"""WITH per AS (
              |  SELECT user_id,
              |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS na,
              |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb
              |  FROM events WHERE event_type IN ('view', 'click')
              |  GROUP BY user_id),
              |c AS (
              |  SELECT CAST(sum(CASE WHEN na > nb THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              |         CAST(sum(CASE WHEN nb > na THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
              |         CAST(sum(CASE WHEN na = nb THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
              |  FROM per)
              |SELECT n_pos, n_neg, n_ties,
              |       floor(($signZExpr) * 1000000.0 + 0.5) / 1000000.0 AS z
              |FROM c""".stripMargin),
      doc = "paired sign test (views vs clicks within the same user): " +
        "one combinable user reduction, ties dropped by convention, " +
        "z = (pos-neg)/sqrt(pos+neg), shared IEEE tree, no-data guard"),

    Q("x47_acf_ladder",
      (s, d) => acfLadder(Tables.events(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |  FROM events GROUP BY 1),
             |pairs AS (
             |  SELECT o AS lag, t.rev AS x, u.rev AS y
             |  FROM daily t
             |  CROSS JOIN (SELECT unnest(range(1, 8)) AS o) oo
             |  JOIN daily u ON u.day = t.day + o),
             |mo AS (
             |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
             |  FROM pairs GROUP BY lag)
             |SELECT lag, n AS n_pairs,
             |       floor((CASE WHEN (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) = 0.0
             |                OR (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) IS NULL
             |              THEN NULL
             |              ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |              END) * 1000000000.0 + 0.5) / 1000000000.0 AS acf
             |FROM mo ORDER BY lag""".stripMargin),
      doc = "autocorrelation ladder (lags 1..7 in one pass): day rows " +
        "fan out to 7 lagged probes (bounded widening, no per-lag " +
        "re-scan), per-lag Pearson over exact DECIMAL moments; weekly " +
        "seasonality reads as the lag-7 peak"),

    Q("x48_hill_tail",
      (s, d) => hillTail(Tables.documents(s, d)),
      Some(s"""WITH top AS (
              |  SELECT CAST(n_chars AS BIGINT) AS x FROM documents
              |  ORDER BY n_chars DESC, doc_id LIMIT 100),
              |xk AS (SELECT min(x) AS x_k FROM top),
              |sc AS (
              |  SELECT x_k,
              |         CAST(floor(ln(CAST(x AS DOUBLE) / CAST(x_k AS DOUBLE))
              |           * 1000000.0) AS BIGINT) AS lr_micro
              |  FROM top CROSS JOIN xk),
              |mo AS (SELECT x_k, CAST(count(*) AS BIGINT) AS k,
              |              CAST(sum(lr_micro) AS BIGINT) AS s
              |       FROM sc GROUP BY x_k)
              |SELECT k, x_k,
              |       floor(($hillAlphaExpr) * 1000000.0 + 0.5) / 1000000.0
              |         AS hill_alpha
              |FROM mo""".stripMargin),
      doc = "Hill tail-index over doc lengths (heavy-tail storage " +
        "diagnostic): top-k via TakeOrderedAndProject, broadcast k-th " +
        "value, integer micro-nat log-ratios, tie-robust, degenerate " +
        "tail guarded null"),

    Q("x49_mann_kendall",
      (s, d) => mannKendall(Tables.orders(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM orders GROUP BY 1),
              |sp AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              |         CAST(sum(CAST(sign(b.rev - a.rev) AS BIGINT)) AS BIGINT) AS s_stat
              |  FROM daily a JOIN daily b ON a.day < b.day),
              |ti AS (
              |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
              |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev) x),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
              |c AS (
              |  SELECT n_days, n_pairs, s_stat,
              |         n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18
              |  FROM nd CROSS JOIN sp CROSS JOIN ti)
              |SELECT n_days, n_pairs, s_stat, var18,
              |       floor(($mkZExpr) * 1000000.0 + 0.5) / 1000000.0 AS z
              |FROM c""".stripMargin),
      doc = "Mann-Kendall trend significance (x43's companion): exact " +
        "integer S and tie-corrected 18*Var over the calendar-bounded " +
        "day-pair grid, continuity-corrected z in one 1-row IEEE tree, " +
        "zero-variance null guard"),

    Q("x50_skyline",
      (s, d) => skylineParts(Tables.part(s, d)),
      Some("""WITH p AS (
             |  SELECT p_partkey, p_size,
             |         CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
             |           AS price_cents
             |  FROM part)
             |SELECT o.p_partkey, o.p_size, o.price_cents
             |FROM p o
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM p d
             |  WHERE d.p_size >= o.p_size
             |    AND d.price_cents <= o.price_cents
             |    AND (d.p_size > o.p_size
             |         OR d.price_cents < o.price_cents))""".stripMargin),
      doc = "2-D Pareto skyline (max size, min price): distinct-size " +
        "reduction + running-min window over the ~50-row size table, " +
        "broadcast frontier re-join — never the O(n^2) dominance scan " +
        "the NOT EXISTS oracle runs; exact cents"),

    Q("x51_kendall_tau",
      (s, d) => kendallTau(Tables.orders(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev,
              |         CAST(count(*) AS BIGINT) AS cnt
              |  FROM orders GROUP BY 1),
              |pp AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              |         CAST(sum(CASE WHEN (b.rev > a.rev AND b.cnt > a.cnt)
              |                         OR (b.rev < a.rev AND b.cnt < a.cnt)
              |                  THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
              |         CAST(sum(CASE WHEN (b.rev > a.rev AND b.cnt < a.cnt)
              |                         OR (b.rev < a.rev AND b.cnt > a.cnt)
              |                  THEN 1 ELSE 0 END) AS BIGINT) AS discordant
              |  FROM daily a JOIN daily b ON a.day < b.day),
              |tr AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS tie_rev
              |       FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev) x),
              |tc AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS tie_cnt
              |       FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY cnt) x),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
              |SELECT n_days, n_pairs, concordant, discordant, tie_rev, tie_cnt,
              |       floor(($tauBExpr) * 1000000.0 + 0.5) / 1000000.0 AS tau_b
              |FROM nd CROSS JOIN pp CROSS JOIN tr CROSS JOIN tc""".stripMargin),
      doc = "Kendall tau-b between daily revenue and daily order count " +
        "(x37 Spearman's tie-robust companion): exact integer " +
        "concordance over the calendar-bounded day-pair grid, tie " +
        "corrections from |distinct value| tables, 1-row IEEE tail, " +
        "fully-tied guard null"),

    Q("x52_decile_shift",
      (s, d) => decileShift(Tables.lineitem(s, d), Tables.part(s, d)),
      Some("""WITH v AS (
             |  SELECT CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS g,
             |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |b AS (SELECT g, cents, CAST(count(*) AS BIGINT) AS c
             |      FROM v GROUP BY 1, 2),
             |cm AS (SELECT g, cents,
             |              sum(c) OVER (PARTITION BY g ORDER BY cents) AS cum,
             |              sum(c) OVER (PARTITION BY g) AS n
             |       FROM b),
             |d AS (SELECT g, decile, min(cents) AS v
             |      FROM cm, (SELECT unnest(range(1, 10)) AS decile) dd
             |      WHERE cum >= (n * decile + 9) // 10
             |      GROUP BY 1, 2)
             |SELECT a.decile, a.v AS promo_cents, bb.v AS base_cents,
             |       CAST(a.v - bb.v AS BIGINT) AS shift_cents
             |FROM d a JOIN d bb ON a.decile = bb.decile
             |WHERE a.g = 1 AND bb.g = 0
             |ORDER BY a.decile""".stripMargin),
      doc = "promo-vs-base decile shift ladder (quantile treatment " +
        "effect): exact-cent bin tables (mergeable, domain-bounded), " +
        "one cumulative window per group over bins, broadcast 9-row " +
        "decile spine, integer shifts"),

    Q("x53_srm_check",
      (s, d) => srmCheck(Tables.events(s, d)),
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
              |v AS (SELECT user_id % 2 AS variant FROM u),
              |c AS (SELECT CAST(coalesce(sum(CASE WHEN variant = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
              |             CAST(coalesce(sum(CASE WHEN variant = 1 THEN 1 END), 0) AS BIGINT) AS n_b
              |      FROM v)
              |SELECT n_a, n_b,
              |       floor((${srmChiExpr}) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS chi2,
              |       CAST(CASE WHEN (${srmChiExpr}) > 3.841 THEN 1 ELSE 0 END
              |            AS BIGINT) AS srm_flag
              |FROM c""".stripMargin),
      doc = "sample-ratio-mismatch guardrail for the f13 A/B split: " +
        "chi-square vs the designed 50/50 over distinct users, 1-df " +
        "critical flag — the readout-invalidating check that gates " +
        "f13/x31; integers until the final 1-row division"),

    Q("x54_mde_power",
      (s, d) => mdePower(Tables.events(s, d)),
      Some(s"""WITH per AS (
              |  SELECT user_id,
              |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s
              |  FROM events GROUP BY 1),
              |v AS (SELECT user_id % 2 AS variant,
              |             CAST(count(*) AS BIGINT) AS n,
              |             CAST(sum(s) AS BIGINT) AS k
              |      FROM per GROUP BY 1),
              |ab AS (
              |  SELECT a.n AS na, a.k AS ka, b.n AS nb, b.k AS kb
              |  FROM (SELECT n, k FROM v WHERE variant = 0) a
              |  CROSS JOIN (SELECT n, k FROM v WHERE variant = 1) b)
              |SELECT na AS n_a, ka AS k_a, nb AS n_b, kb AS k_b,
              |       floor(($mdePool) * 1000000.0 + 0.5) / 1000000.0 AS p_pool,
              |       floor(($mdeAbsExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS mde_abs,
              |       floor(($mdeRelExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS mde_rel
              |FROM ab""".stripMargin),
      doc = "minimum detectable effect at 80% power for the x31 " +
        "two-proportion design (experiment pre-flight): x31's exact " +
        "(n, k) reduction, one 1-row IEEE tree with the standard " +
        "1.959964/0.841621 constants, degenerate-pool null guard"),

    Q("x55_ccf_ladder",
      (s, d) => ccfLadder(Tables.events(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev,
             |         CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |pairs AS (
             |  SELECT o AS lag, t.rev AS x, u.cnt AS y
             |  FROM daily t
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS o) oo
             |  JOIN daily u ON u.day = t.day + o),
             |mo AS (
             |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
             |  FROM pairs GROUP BY lag)
             |SELECT lag, n AS n_pairs,
             |       floor((CASE WHEN (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) = 0.0
             |                OR (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) IS NULL
             |              THEN NULL
             |              ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |              END) * 1000000000.0 + 0.5) / 1000000000.0 AS ccf
             |FROM mo ORDER BY lag""".stripMargin),
      doc = "lead-lag cross-correlation ladder rev(t) vs volume(t+lag), " +
        "lags 0..7 in one pass (x47's ACF discipline on two series): " +
        "day-grid joins, decimal-exact moments, 8-row IEEE tail"),

    Q("x56_theil_index",
      (s, d) => theilIndex(Tables.orders(s, d)),
      Some("""WITH vv AS (
             |  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
             |  FROM orders),
             |b AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vv GROUP BY 1),
             |t AS (SELECT CAST(sum(CAST(v AS HUGEINT) * c) AS HUGEINT) AS s,
             |             CAST(sum(c) AS BIGINT) AS n
             |      FROM b),
             |q AS (
             |  SELECT b.c, b.v, t.s, t.n,
             |         CAST(floor(ln(CAST(b.v AS DOUBLE)
             |                       / (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
             |                    * 1000000.0 + 0.5) AS BIGINT) AS tt
             |  FROM b CROSS JOIN t)
             |SELECT CAST(max(n) AS BIGINT) AS n_orders,
             |       CAST(max(s) AS BIGINT) AS total_cents,
             |       floor(CAST(sum(CAST(c AS HUGEINT) * v * tt) AS DOUBLE)
             |             / (CAST(max(s) AS DOUBLE) * 1000000.0)
             |             * 1000000000.0 + 0.5) / 1000000000.0 AS theil
             |FROM q""".stripMargin),
      doc = "Theil T inequality of order revenue (the decomposable " +
        "member next to x25 Gini / x40 Lorenz): micro-nat ln per " +
        "DISTINCT cent value only, exact decimal c*v*t sums, broadcast " +
        "total — 1-row census"),

    Q("x57_perm_test",
      (s, d) => permTest(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1),
              |mm AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
              |lab AS (SELECT day, rev,
              |               CASE WHEN day * 2 <= dmin + dmax THEN 1 ELSE 0 END AS g
              |        FROM daily CROSS JOIN mm),
              |ob AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
              |              sum(CASE WHEN g = 1 THEN rev END) AS s1,
              |              sum(CASE WHEN g = 1 THEN 1 END) AS n1,
              |              sum(CASE WHEN g = 0 THEN rev END) AS s0,
              |              sum(CASE WHEN g = 0 THEN 1 END) AS n0
              |       FROM lab),
              |obd AS (SELECT n_days,
              |               (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS obs_diff
              |        FROM ob),
              |pr AS (SELECT p, rev,
              |              ('0x' || substr(md5(CAST(day AS VARCHAR) || ':'
              |                || CAST(p AS VARCHAR)), 1, 14))::BIGINT % 2 AS pg
              |       FROM lab CROSS JOIN (SELECT unnest(range(0, ${Stats.DefaultPerms})) AS p) pp),
              |ps AS (SELECT p,
              |              sum(CASE WHEN pg = 1 THEN rev END) AS s1,
              |              coalesce(sum(CASE WHEN pg = 1 THEN 1 END), 0) AS n1,
              |              sum(CASE WHEN pg = 0 THEN rev END) AS s0,
              |              coalesce(sum(CASE WHEN pg = 0 THEN 1 END), 0) AS n0
              |       FROM pr GROUP BY p),
              |pd AS (SELECT (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |               - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS pd
              |       FROM ps WHERE n1 > 0 AND n0 > 0),
              |tl AS (SELECT CAST(count(*) AS BIGINT) AS n_valid,
              |              CAST(sum(CASE WHEN abs(pd) >= abs(obs_diff)
              |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
              |       FROM pd CROSS JOIN obd)
              |SELECT n_days,
              |       floor(obs_diff * 1000000.0 + 0.5) / 1000000.0 AS obs_diff,
              |       CAST(${Stats.DefaultPerms} AS BIGINT) AS n_perms, n_valid, n_ge,
              |       CASE WHEN n_valid > 0
              |            THEN floor(CAST(n_ge AS DOUBLE) / CAST(n_valid AS DOUBLE)
              |                       * 1000000.0 + 0.5) / 1000000.0 END AS p_value
              |FROM obd CROSS JOIN tl""".stripMargin),
      doc = "randomization test for the half-vs-half daily-revenue mean " +
        "shift (distribution-free; x24/x28's assumption-light sibling): " +
        "64 deterministic md5 relabelings of the DAY table (never the " +
        "facts), exact long sums per permutation, fixed IEEE mean-gap " +
        "trees, one-sided-empty permutations dropped"),

    Q("x58_capture_recapture",
      (s, d) => captureRecapture(Tables.events(s, d)),
      Some(s"""WITH dd AS (
              |  SELECT user_id,
              |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
              |  FROM events),
              |mm AS (SELECT min(day) AS dmin, max(day) AS dmax FROM dd),
              |per AS (
              |  SELECT user_id,
              |         CAST(max(CASE WHEN day * 2 <= dmin + dmax
              |                  THEN 1 ELSE 0 END) AS BIGINT) AS s1,
              |         CAST(max(CASE WHEN day * 2 <= dmin + dmax
              |                  THEN 0 ELSE 1 END) AS BIGINT) AS s2
              |  FROM dd CROSS JOIN mm GROUP BY 1),
              |ag AS (SELECT CAST(sum(s1) AS BIGINT) AS n1,
              |              CAST(sum(s2) AS BIGINT) AS n2,
              |              CAST(sum(s1 * s2) AS BIGINT) AS m,
              |              CAST(count(*) AS BIGINT) AS n_total
              |       FROM per)
              |SELECT n1, n2, m AS n_both, n_total,
              |       floor(($chapmanExpr) * 1000000.0 + 0.5)
              |         / 1000000.0 AS chapman_est,
              |       floor(((($chapmanExpr) - cast(n_total as double))
              |              / cast(n_total as double))
              |             * 1000000.0 + 0.5) / 1000000.0 AS rel_err
              |FROM ag""".stripMargin),
      doc = "Chapman capture-recapture population estimate from the two " +
        "stream halves + its relative error vs the known total — the " +
        "calibration read for dedup across partial crawls; one user_id " +
        "reduction, 1-row rollup, shared IEEE tree"),

    Q("x59_dispersion",
      (s, d) => dispersionCensus(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT event_type,
              |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(count(*) AS BIGINT) AS c
              |  FROM events GROUP BY 1, 2),
              |mo AS (SELECT event_type,
              |              CAST(count(*) AS BIGINT) AS n_days,
              |              CAST(sum(c) AS BIGINT) AS sc,
              |              CAST(sum(c * c) AS BIGINT) AS scc
              |       FROM daily GROUP BY 1)
              |SELECT event_type, n_days, sc AS n_events,
              |       floor(cast(sc as double) / cast(n_days as double)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_daily,
              |       floor(($dispersionExpr) * 1000000.0 + 0.5)
              |         / 1000000.0 AS dispersion
              |FROM mo ORDER BY event_type""".stripMargin),
      doc = "overdispersion census (daily-count Var/Mean per type; ~1 " +
        "Poisson, >>1 bursty): one (type, day) reduction, |types| exact " +
        "moment rows, shared dispersion tree — the count-model " +
        "pre-flight for alert thresholds"),

    Q("x60_runs_test",
      (s, d) => runsTest(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1),
              |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
              |cm AS (SELECT rev, sum(cnt) OVER (ORDER BY rev) AS cum
              |       FROM (SELECT rev, CAST(count(*) AS BIGINT) AS cnt
              |             FROM daily GROUP BY 1) x),
              |md AS (SELECT min(rev) AS med
              |       FROM cm CROSS JOIN nn WHERE cum >= (n + 1) // 2),
              |sg AS (SELECT day,
              |              CASE WHEN rev > med THEN 1 ELSE 0 END AS s
              |       FROM daily CROSS JOIN md WHERE rev <> med),
              |rr AS (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM sg),
              |ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
              |              CAST(sum(s) AS BIGINT) AS n1,
              |              CAST(sum(CASE WHEN prev IS NULL OR prev <> s
              |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
              |       FROM rr),
              |fin AS (SELECT n1, m - n1 AS n2, n_runs FROM ag)
              |SELECT n1, CAST(n2 AS BIGINT) AS n2, n_runs,
              |       floor(($runsZExpr) * 1000000.0 + 0.5)
              |         / 1000000.0 AS z
              |FROM fin""".stripMargin),
      doc = "Wald-Wolfowitz runs test on above/below-median days " +
        "(sequence randomness, x49's companion): x36 lower median off " +
        "the value table, one day-ordered lag window, exact integer " +
        "(R, n1, n2), shared z tree with degenerate-split null"),

    Q("x61_cohens_d",
      (s, d) => cohensDPairwise(Tables.documents(s, d), "source", "n_chars")
        .orderBy("group_a", "group_b"),
      Some(s"""WITH mo AS (
              |  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
              |         CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sxx
              |  FROM documents GROUP BY 1)
              |SELECT a.g AS group_a, b.g AS group_b,
              |       a.n AS n_a, b.n AS n_b,
              |       floor(($cohenDExpr) * 1000000.0 + 0.5)
              |         / 1000000.0 AS cohens_d
              |FROM mo a JOIN mo b ON a.g < b.g
              |ORDER BY group_a, group_b""".stripMargin),
      doc = "pairwise Cohen's d effect sizes (x24's 'is it BIG' " +
        "companion — t grows with sqrt(n), d doesn't): same exact-" +
        "moment kernel, pooled-SD standardization on a shared IEEE " +
        "tree, small-sample/zero-variance null"),

    Q("x62_ratio_ci",
      (s, d) => ratioCi(Tables.events(s, d)),
      Some(s"""WITH per AS (
              |  SELECT user_id,
              |         CAST(sum(CASE WHEN event_type = 'purchase'
              |                  THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
              |                  ELSE 0 END) AS BIGINT) AS x,
              |         CAST(count(*) AS BIGINT) AS y
              |  FROM events GROUP BY 1),
              |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |              CAST(sum(x) AS BIGINT) AS sx,
              |              CAST(sum(y) AS BIGINT) AS sy,
              |              CAST(sum(x * x) AS BIGINT) AS sxx,
              |              CAST(sum(x * y) AS BIGINT) AS sxy,
              |              CAST(sum(y * y) AS BIGINT) AS syy
              |       FROM per)
              |SELECT n AS n_users, sx AS rev_cents, sy AS n_events,
              |       floor(($ratioExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS ratio,
              |       floor(($ratioSeExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS se,
              |       floor((($ratioExpr) - 1.959964 * ($ratioSeExpr))
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS ci_lo,
              |       floor((($ratioExpr) + 1.959964 * ($ratioSeExpr))
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS ci_hi
              |FROM mo""".stripMargin),
      doc = "delta-method CI for the revenue-per-event RATIO metric with " +
        "USER-level clustering (the naive per-event variance is wrong): " +
        "five exact moments from one user_id reduction, shared " +
        "linearization tree, 95% band; degenerate designs null"),

    Q("x63_ess_days",
      (s, d) => essDays(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1),
              |pairs AS (
              |  SELECT o AS lag, t.rev AS x, u.rev AS y
              |  FROM daily t
              |  CROSS JOIN (SELECT unnest(range(1, 8)) AS o) oo
              |  JOIN daily u ON u.day = t.day + o),
              |mo AS (
              |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
              |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
              |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
              |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
              |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
              |  FROM pairs GROUP BY lag),
              |ac AS (
              |  SELECT floor((CASE WHEN (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) = 0.0
              |                 OR (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) IS NULL
              |               THEN NULL
              |               ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              |                    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
              |               END) * 1000000000.0 + 0.5) / 1000000000.0 AS acf
              |  FROM mo),
              |sa AS (SELECT CAST(coalesce(sum(CAST(floor(coalesce(acf, 0.0)
              |                 * 1000000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT) AS snano
              |       FROM ac),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
              |SELECT n_days,
              |       floor(cast(snano as double) / 1000000000.0
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS sum_acf,
              |       floor(($essExpr) * 1000000.0 + 0.5) / 1000000.0 AS ess_days,
              |       floor((cast(n_days as double) / ($essExpr))
              |             * 1000000.0 + 0.5) / 1000000.0 AS overconfidence
              |FROM nd CROSS JOIN sa""".stripMargin),
      doc = "Kish effective sample size of the daily series (n days of " +
        "autocorrelated data = ESS independent ones): composes x47's " +
        "exact 9-dp acf ladder (recovered to nano-units, summed as " +
        "longs — cannot drift from the standalone query), one guarded " +
        "1-row tree with the n/ESS overconfidence factor"),

    Q("x64_perm_fdr",
      (s, d) => permFdr(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT event_type AS et,
              |         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
              |  FROM events GROUP BY 1, 2),
              |mm AS (SELECT et, min(day) AS dmin, max(day) AS dmax
              |       FROM daily GROUP BY 1),
              |lab AS (SELECT daily.et, day, rev,
              |               CASE WHEN day * 2 <= dmin + dmax THEN 1 ELSE 0 END AS g
              |        FROM daily JOIN mm ON mm.et = daily.et),
              |ob AS (SELECT et,
              |              sum(CASE WHEN g = 1 THEN rev END) AS s1,
              |              coalesce(sum(CASE WHEN g = 1 THEN 1 END), 0) AS n1,
              |              sum(CASE WHEN g = 0 THEN rev END) AS s0,
              |              coalesce(sum(CASE WHEN g = 0 THEN 1 END), 0) AS n0
              |       FROM lab GROUP BY 1),
              |obd AS (SELECT et,
              |               (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS obs_diff
              |        FROM ob WHERE n1 > 0 AND n0 > 0),
              |pr AS (SELECT et, p, rev,
              |              ('0x' || substr(md5(CAST(day AS VARCHAR) || ':'
              |                || CAST(p AS VARCHAR)), 1, 14))::BIGINT % 2 AS pg
              |       FROM lab CROSS JOIN (SELECT unnest(range(0, ${Stats.DefaultPerms})) AS p) pp),
              |ps AS (SELECT et, p,
              |              sum(CASE WHEN pg = 1 THEN rev END) AS s1,
              |              coalesce(sum(CASE WHEN pg = 1 THEN 1 END), 0) AS n1,
              |              sum(CASE WHEN pg = 0 THEN rev END) AS s0,
              |              coalesce(sum(CASE WHEN pg = 0 THEN 1 END), 0) AS n0
              |       FROM pr GROUP BY 1, 2),
              |pd AS (SELECT et, (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |               - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS pd
              |       FROM ps WHERE n1 > 0 AND n0 > 0),
              |tl AS (SELECT pd.et, CAST(count(*) AS BIGINT) AS n_valid,
              |              CAST(sum(CASE WHEN abs(pd) >= abs(obs_diff)
              |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
              |       FROM pd JOIN obd ON obd.et = pd.et GROUP BY 1),
              |rk AS (SELECT obd.et, obs_diff, n_ge, n_valid,
              |              CAST(count(*) OVER () AS BIGINT) AS m,
              |              CAST(row_number() OVER (
              |                ORDER BY CAST(n_ge AS DOUBLE) / CAST(n_valid AS DOUBLE),
              |                         obd.et) AS BIGINT) AS p_rank
              |       FROM obd JOIN tl ON tl.et = obd.et),
              |pz AS (SELECT *,
              |              CASE WHEN 100 * m * n_ge
              |                        <= p_rank * ${Stats.DefaultFdrAlphaPct} * n_valid
              |                   THEN 1 ELSE 0 END AS pass
              |       FROM rk),
              |km AS (SELECT *, max(CASE WHEN pass = 1 THEN p_rank END) OVER () AS k_max
              |       FROM pz)
              |SELECT et AS event_type,
              |       floor(obs_diff * 1000000.0 + 0.5) / 1000000.0 AS obs_diff,
              |       n_ge, n_valid,
              |       floor(CAST(n_ge AS DOUBLE) / CAST(n_valid AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS p_value,
              |       p_rank, m AS n_tests,
              |       CASE WHEN p_rank <= coalesce(k_max, 0) THEN 1 ELSE 0 END AS bh_rejected
              |FROM km ORDER BY p_rank""".stripMargin),
      doc = "x64 grouped permutation tests + Benjamini-Hochberg FDR: one " +
        "calendar-half mean-gap permutation test per event_type (shared " +
        "day-keyed md5 relabeling = paired draws), exact integer " +
        "p-values, BH reject set via integer cross-multiplication " +
        "(100*m*n_ge <= rank*alpha_pct*n_valid) — no transcendental, " +
        "bit-identical multiple testing; ranking windows ride the " +
        "|types|-row table only"),

    Q("x66_jackknife_ratio",
      (s, d) => jackknifeRatio(Tables.events(s, d)),
      Some(s"""WITH daily AS (
              |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
              |         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS x,
              |         CAST(count(*) AS BIGINT) AS y
              |  FROM events GROUP BY 1),
              |tot AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
              |               CAST(sum(y) AS BIGINT) AS sy,
              |               CAST(count(*) AS BIGINT) AS nd
              |        FROM daily),
              |ps AS (SELECT nd, sx, sy,
              |              CASE WHEN sy - y > 0 THEN
              |                CAST(floor(CAST(sx - x AS DOUBLE) / CAST(sy - y AS DOUBLE)
              |                     * 1000000000000.0) AS BIGINT)
              |              END AS r12
              |       FROM daily CROSS JOIN tot),
              |mo AS (SELECT max(nd) AS n_days,
              |              CAST(count(r12) AS BIGINT) AS n_valid,
              |              max(sx) AS sx, max(sy) AS sy,
              |              coalesce(sum(CAST(r12 AS HUGEINT)), 0) AS sr
              |       FROM ps),
              |cs AS (SELECT coalesce(sum(
              |                (CAST(r12 AS HUGEINT) * n_valid - sr)
              |                * (CAST(r12 AS HUGEINT) * n_valid - sr)), 0) AS css,
              |              CAST(count((CAST(r12 AS HUGEINT) * n_valid - sr)
              |                * (CAST(r12 AS HUGEINT) * n_valid - sr)) AS BIGINT) AS css_n
              |       FROM ps CROSS JOIN mo WHERE r12 IS NOT NULL)
              |SELECT n_days, n_valid,
              |       floor(($ratioExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS ratio,
              |       floor(($jackSeExpr) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS se_jack,
              |       floor((($ratioExpr) - 1.959964 * ($jackSeExpr))
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS ci_lo,
              |       floor((($ratioExpr) + 1.959964 * ($jackSeExpr))
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS ci_hi
              |FROM mo CROSS JOIN cs""".stripMargin),
      doc = "x66 delete-one-day block jackknife for the revenue-per-event " +
        "ratio (x62's resampling counterpart — day blocks absorb " +
        "within-day correlation the user-level delta method can't see): " +
        "leave-one-out ratios pico-quantized to exact pseudo-values, " +
        "decimal moment sums, shared guarded SE tree, 95% band; facts " +
        "reduce once to the day table"),
  )
}
