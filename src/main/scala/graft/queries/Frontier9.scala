package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Q, Tables}

/** Round-17 frontier: the nonparametric-inference completions and two
  * sequential/privacy pipeline ops —
  *
  *   - q218_wilcoxon_signed_rank: the PAIRED location test the panel
  *     lacked (q171 Mann–Whitney is unpaired; q183 Friedman is
  *     k-sample blocks) on day-paired click vs purchase revenue;
  *   - q219_hurst: rescaled-range long-memory exponent of daily spend
  *     — the "does today predict next month" persistence read next to
  *     q132's ACF (fixed lags) and q209's variance ratio (aggregation
  *     consistency);
  *   - q220_cramer_von_mises: the L² member of the two-sample
  *     distribution-test family (q125 KS is sup-norm, q203 W₁ is
  *     mass-transport). Chosen over Anderson–Darling deliberately:
  *     CvM's per-value term has a COMMON denominator, so the sum
  *     stays exact-decimal and commutes across partitions (the q203
  *     discipline); AD's per-value B(N−B) denominator would force an
  *     ordered double fold over the whole support;
  *   - q221_jonckheere: the ORDERED-alternative k-sample test (is
  *     order price stochastically increasing in priority class) —
  *     q178's Kruskal–Wallis asks "any difference", JT asks "a
  *     monotone one", which is the hypothesis a priority ladder
  *     actually implies;
  *   - q222_sprt: Wald's sequential probability ratio test over the
  *     event stream — the ALWAYS-VALID A/B stopping rule next to
  *     q123's fixed-horizon z-test and q216's MDE sizing (peeking at
  *     a z-test inflates α; SPRT's boundaries are the design);
  *   - pipeline_dp_count: ε-differentially-private release of the
  *     per-(lang, source) corpus histogram — Laplace(1/ε) noise from
  *     the house deterministic-RNG (md5 inverse-CDF), the privacy
  *     accounting row a training-data pipeline publishes.
  *
  * Reference note: the reference engine (`/root/reference/`, a Go log
  * forwarder — SURVEY.md §1) has no analytics surface; these extend
  * the Frontier statistics family. Shared machinery: value-domain
  * count tables + ops.PrefixSum (never a partition-less window),
  * exact decimal(38,0) moments, fixed IEEE assembly on one
  * (or enum-bounded) rows, ulp-pinned constants interpolated from ONE
  * Scala value into BOTH engines, DuckDB oracles replaying identical
  * arithmetic.
  */
object Frontier9 {

  private val dec = "decimal(38,0)"

  // ---- ulp-pinned design constants (ONE Scala value, interpolated
  // into both the Spark plan and the DuckDB oracle; Double.toString
  // round-trips exactly, so both engines hold the same bits) --------
  /** SPRT design: H0 p=0.40 vs H1 p=0.50, alpha = beta = 0.05. */
  private val SprtC1 = math.log(0.50 / 0.40) // per-success LLR
  private val SprtC2 = math.log(0.50 / 0.60) // per-failure LLR
  private val SprtA = math.log(0.95 / 0.05) // upper (reject H0)
  private val SprtB = math.log(0.05 / 0.95) // lower (accept H0)
  private val Ln2 = math.log(2.0)

  /** Complete HOURLY-spend grid (all event types pooled): t = hour
    * index from the span start, v = exact cents (missing hours are
    * genuine zeros — the q127/q174/q187 grid convention, one level
    * finer). Hourly, not daily, deliberately: the fixture's event
    * span is 30 days at every SF, so a daily series could never fill
    * a 32- or 64-point R/S block — the hourly grid (720 points) keeps
    * every block size populated while staying span-bounded (24×days
    * rows at any corpus size).
    */
  private def hourGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.load(s, d, "events")
      .select(date_trunc("hour", $"ts").as("h"),
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"h").agg(sum($"cents").as("v"))
    hourly.agg(min($"h").as("h0"), max($"h").as("h1"))
      .select(explode(sequence($"h0", $"h1",
        expr("interval 1 hour"))).as("h"), $"h0")
      .join(hourly, Seq("h"), "left")
      .select(expr("(unix_micros(h) - unix_micros(h0)) div 3600000000")
        .as("t"), coalesce($"v", lit(0L)).as("v"))
  }

  private val hourGridSql =
    """hourly AS (
         SELECT date_trunc('hour', ts) AS h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY 1),
       span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
       hours AS (
         SELECT unnest(generate_series(h0, h1,
           INTERVAL 1 HOUR)) AS h, h0
         FROM span),
       grid AS (
         SELECT CAST(date_diff('hour', hy.h0, hy.h) AS BIGINT) AS t,
           coalesce(d.v, 0) AS v
         FROM hours hy LEFT JOIN hourly d ON d.h = hy.h)"""

  def queries: Map[String, Q] = Map(

    // Wilcoxon signed-rank on HOUR-paired (click − purchase) revenue:
    // "do the two streams differ in location, judged within hours" —
    // pairing removes the time-of-day seasonality that q171's
    // unpaired U test would launder into noise (hours, not days: the
    // fixture spans 30 days at every SF — 720 hour pairs give the
    // rank machinery an actual sample). Zero differences drop
    // (the standard convention); |d| ranks ride the q171 exact
    // machinery (2·rank stays integer under midrank ties: rank2 =
    // 2·cum − t + 1 on the |d| count table via PrefixSum), 2·W⁺ is an
    // exact decimal, and the tie-corrected normal z assembles once:
    // 48·Var = 2n(n+1)(2n+1) − Σ(t³−t) exactly. The hour-paired
    // frame is span-bounded (24×days rows); the |d| count table
    // value-domain-bounded.
    "q218_wilcoxon_signed_rank" -> ((s, d) => {
      import s.implicits._
      val hourly = Tables.load(s, d, "events")
        .filter($"event_type".isin("click", "purchase"))
        .select(date_trunc("hour", $"ts").as("hr"),
          when($"event_type" === "click",
            round($"value" * 100).cast("long")).otherwise(0L).as("c"),
          when($"event_type" === "purchase",
            round($"value" * 100).cast("long")).otherwise(0L).as("p"))
        .groupBy($"hr")
        .agg(sum($"c").as("c"), sum($"p").as("p"))
        .select(($"c" - $"p").as("diff"))
        .filter($"diff" =!= 0L)
      val byAbs = hourly
        .select(abs($"diff").as("absd"),
          when($"diff" > 0, 1L).otherwise(0L).as("pos"))
        .groupBy($"absd")
        .agg(sum($"pos").as("kpos"), count(lit(1)).as("t"))
      val ranked = graft.ops.PrefixSum.runningTotal(byAbs,
          Seq($"absd"), $"t", "cum")
        .select($"kpos", $"t",
          (lit(2L) * $"cum" - $"t" + 1L).cast(dec).as("rank2"))
      ranked.agg(
          sum($"t").cast(dec).as("nd"),
          sum(($"kpos".cast(dec) * $"rank2").cast(dec)).as("w2"),
          sum(($"t".cast(dec) * $"t" * $"t" - $"t").cast(dec))
            .as("tie3"))
        .withColumn("v48",
          (lit(2).cast(dec) * $"nd" * ($"nd" + 1) * (lit(2).cast(dec)
            * $"nd" + 1) - $"tie3").cast(dec))
        .select($"nd".cast("long").as("n_pairs"),
          ($"w2".cast("double") / 2.0).as("w_plus"),
          Tables.nz(round(
            when($"nd" < 2 || $"v48" <= 0, lit(null).cast("double"))
              .otherwise(
                (lit(2).cast(dec) * $"w2" - $"nd" * ($"nd" + 1))
                  .cast("double") /
                (lit(4.0) * sqrt($"v48".cast("double") / 48.0))), 4))
            .as("z_stat"))
    }),

    // Hurst exponent via rescaled range: block the HOURLY grid at
    // m ∈ {8,16,32,64}, per block compute R (range of the cumulative
    // mean-deviation profile) over S (population std), average R/S
    // per m in block order, and read H as the 4-point OLS slope of
    // ln(R/S) on ln m — H ≈ 0.5 is a random walk, > 0.5 persistent
    // trending, < 0.5 mean-reverting. Exactness: per-block Σx (long)
    // and Σx² (decimal) are exact, the ≤64-element profile folds
    // integer prefixes cast to double in index order (IEEE-identical
    // both engines), block averages fold in block order (q92
    // discipline), and the OLS slope collapses to a fixed centered
    // form because ln m are consecutive multiples of ln 2. Blocks are
    // span-bounded (≤ hours/8 rows); per-block lists ≤ 64 elements.
    "q219_hurst" -> ((s, d) => {
      import s.implicits._
      val grid = hourGrid(s, d)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nHours = grid.count() // driver scalar; materializes the cache
      val perBlock = grid
        .select($"t", $"v",
          explode(array(lit(8L), lit(16L), lit(32L), lit(64L)))
            .as("m"))
        .withColumn("b", expr("t div m"))
        .withColumn("pos", $"t" % $"m")
        .filter(expr(s"b < ${nHours}L div m")) // FULL blocks only
        .groupBy($"m", $"b")
        .agg(sort_array(collect_list(struct($"pos", $"v"))).as("arr"),
          sum($"v").as("sx"),
          sum(($"v".cast(dec) * $"v").cast(dec)).as("sxx"),
          count(lit(1)).as("cnt"))
        .withColumn("mu", $"sx".cast("double") / $"m".cast("double"))
        // profile p_i = (exact integer prefix) − i·mu, i = 1..m;
        // R = max − min over the fixed-order double array
        .withColumn("prof", expr(
          """transform(sequence(1L, m), i ->
               cast(aggregate(slice(arr, 1, cast(i as int)), 0L,
                 (a, e) -> a + e.v) as double)
               - cast(i as double) * mu)"""))
        .withColumn("rng",
          expr("array_max(prof) - array_min(prof)"))
        .withColumn("s2num",
          ($"m".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx")
            .cast(dec))
        .withColumn("sd",
          sqrt($"s2num".cast("double")) / $"m".cast("double"))
        .select($"m", $"b",
          when($"sd" > 0.0, $"rng" / $"sd").as("rs"))
        .filter($"rs".isNotNull) // zero-variance blocks drop (both engines)
      val perM = perBlock
        .groupBy($"m")
        .agg(count($"rs").as("n_blocks"),
          sort_array(collect_list(struct($"b", $"rs"))).as("bs"))
        .select($"m", $"n_blocks",
          when($"n_blocks" > 0, expr(
            """aggregate(bs, cast(0.0 as double),
               (a, e) -> a + e.rs)""") / $"n_blocks".cast("double"))
            .as("avg_rs"))
      perM.groupBy()
        .agg(
          max(when($"m" === 8, $"avg_rs")).as("rs8"),
          max(when($"m" === 16, $"avg_rs")).as("rs16"),
          max(when($"m" === 32, $"avg_rs")).as("rs32"),
          max(when($"m" === 64, $"avg_rs")).as("rs64"),
          min($"n_blocks").as("min_blocks"))
        .select(lit(nHours).as("n_hours"),
          Tables.nz(round($"rs8", 6)).as("rs8"),
          Tables.nz(round($"rs16", 6)).as("rs16"),
          Tables.nz(round($"rs32", 6)).as("rs32"),
          Tables.nz(round($"rs64", 6)).as("rs64"),
          Tables.nz(round(
            when($"min_blocks" < 1 || $"rs8".isNull || $"rs16".isNull
              || $"rs32".isNull || $"rs64".isNull
              || $"rs8" <= 0.0 || $"rs16" <= 0.0 || $"rs32" <= 0.0
              || $"rs64" <= 0.0, lit(null).cast("double"))
              .otherwise(
                (lit(-1.5) * log($"rs8") - lit(0.5) * log($"rs16")
                  + lit(0.5) * log($"rs32") + lit(1.5) * log($"rs64"))
                / (lit(5.0) * lit(Ln2))), 4)).as("hurst"))
    }),

    // Cramér–von Mises two-sample statistic between URGENT and LOW
    // order prices — the L² companion to q125's KS on the SAME frame:
    // KS reads the single worst ECDF gap, CvM integrates ALL of them,
    // so a broad small shift that never spikes registers. Tie-aware
    // discrete form: T = Σ_v t_v·(F₁(v) − F₂(v))² · nm/N² with
    // right-continuous ECDFs; the per-value term clears denominators
    // to t_v·(cf·m − cs·n)² — exact decimal(38,0), so the Σ commutes
    // across partitions (NO ordered fold — the reason CvM was chosen
    // over Anderson–Darling, whose B(N−B) denominator varies per
    // value). Exact through N ≈ 4·10⁷ pooled rows (term ≤ N⁵ <
    // 10³⁸); past that rescale cents to dollars (the stated-bound
    // discipline from text_heavy_hitters). One final IEEE divide.
    "q220_cramer_von_mises" -> ((s, d) => {
      import s.implicits._
      val o = Tables.load(s, d, "orders")
        .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .select(round($"o_totalprice" * 100).cast("long").as("cents"),
          ($"o_orderpriority" === "1-URGENT").as("isa"))
      val byVal = o.groupBy($"cents")
        .agg(sum(when($"isa", 1L).otherwise(0L)).as("ka"),
          count(lit(1)).as("t"))
      // one multi-value scan (r19): both cumulatives share the cents
      // order, so chaining two runningTotal calls paid a second range
      // shuffle + sort + job pair for nothing
      val cum2 = graft.ops.PrefixSum.runningTotals(byVal,
        Seq($"cents"), Seq($"t" -> "cum", $"ka" -> "cuma"))
      val tot = byVal.agg(sum($"ka").as("n1"),
        sum($"t" - $"ka").as("n2"), count(lit(1)).as("n_support"))
      cum2.crossJoin(broadcast(tot))
        .withColumn("df",
          ($"cuma".cast(dec) * $"n2"
            - ($"cum" - $"cuma").cast(dec) * $"n1").cast(dec))
        .select($"n1", $"n2", $"n_support",
          ($"t".cast(dec) * ($"df" * $"df").cast(dec)).cast(dec)
            .as("term"))
        .groupBy($"n1", $"n2", $"n_support")
        .agg(sum($"term").as("num"))
        .select($"n1", $"n2", $"n_support",
          Tables.nz(round(
            when($"n1" === 0 || $"n2" === 0, lit(null).cast("double"))
              .otherwise($"num".cast("double") /
                ($"n1".cast("double") * $"n2".cast("double") *
                  (($"n1" + $"n2").cast("double") *
                   ($"n1" + $"n2").cast("double")))), 6))
            .as("cvm_t"),
          Tables.nz(round((lit(1.0) +
            lit(1.0) / ($"n1" + $"n2").cast("double")) / 6.0, 6))
            .as("cvm_t_null_mean"))
    }),

    // Jonckheere–Terpstra ordered-alternative test across the FIVE
    // priority classes in their label order — "is order price
    // stochastically increasing in priority", the monotone hypothesis
    // a priority ladder implies (q178 KW only asks "any difference").
    // JT = Σ_{g<h} U_gh rides the value-domain count table: explode
    // to (group, cents, k) rows, ONE PrefixSum over (group, cents)
    // gives every group's inclusive cumulative (per-group base
    // subtracted — the pipeline_epoch_order trick), re-pivot to a
    // wide support row, and 2·JT = Σ_v Σ_{g<h} k_h·(2·cum_g − k_g)
    // exactly (ties counted half). Mean and the THREE-term
    // tie-corrected variance assemble from exact decimal pieces
    // (group sizes + value tie counts); one final IEEE z.
    "q221_jonckheere" -> ((s, d) => {
      import s.implicits._
      val o = Tables.load(s, d, "orders")
        .select(round($"o_totalprice" * 100).cast("long").as("cents"),
          substring($"o_orderpriority", 1, 1).cast("int").as("g"))
      // wide support row per distinct cents: per-group counts k1..k5;
      // each group's INCLUSIVE cumulative then rides its own
      // PrefixSum over the support table (five passes over a
      // value-domain-bounded frame — a value absent from group g
      // contributes k_g = 0, so the running total is exactly
      // cum_g(v) with no forward-fill gymnastics)
      val wide = o.groupBy($"cents")
        .agg(
          sum(when($"g" === 1, 1L).otherwise(0L)).as("k1"),
          sum(when($"g" === 2, 1L).otherwise(0L)).as("k2"),
          sum(when($"g" === 3, 1L).otherwise(0L)).as("k3"),
          sum(when($"g" === 4, 1L).otherwise(0L)).as("k4"),
          sum(when($"g" === 5, 1L).otherwise(0L)).as("k5"))
      // one multi-value scan (r19): the five cumulatives share the
      // cents order — the chained form paid five range shuffles,
      // five sorts and ten serial jobs; this is one shuffle, two jobs
      val sup = graft.ops.PrefixSum.runningTotals(wide, Seq($"cents"),
        Seq($"k1" -> "q1", $"k2" -> "q2", $"k3" -> "q3",
          $"k4" -> "q4", $"k5" -> "q5"))
      def u2pair(kh: Column, cg: Column, kg: Column): Column =
        (kh.cast(dec) * (lit(2).cast(dec) * cg - kg)).cast(dec)
      val terms = sup.select((
          u2pair($"k2", $"q1", $"k1") + u2pair($"k3", $"q1", $"k1")
        + u2pair($"k4", $"q1", $"k1") + u2pair($"k5", $"q1", $"k1")
        + u2pair($"k3", $"q2", $"k2") + u2pair($"k4", $"q2", $"k2")
        + u2pair($"k5", $"q2", $"k2") + u2pair($"k4", $"q3", $"k3")
        + u2pair($"k5", $"q3", $"k3") + u2pair($"k5", $"q4", $"k4"))
          .cast(dec).as("u2t"),
          ($"k1" + $"k2" + $"k3" + $"k4" + $"k5").as("tv"))
      val tieAgg = terms.agg(
        sum($"u2t").as("u2"),
        sum(($"tv".cast(dec) * ($"tv" - 1) * (lit(2).cast(dec)
          * $"tv" + 5)).cast(dec)).as("tA"),
        sum(($"tv".cast(dec) * ($"tv" - 1) * ($"tv" - 2)).cast(dec))
          .as("tB"),
        sum(($"tv".cast(dec) * ($"tv" - 1)).cast(dec)).as("tC"))
      val grp = o.groupBy($"g").agg(count(lit(1)).as("ng"))
        .agg(sum($"ng").cast(dec).as("nn"),
          sum(($"ng".cast(dec) * $"ng").cast(dec)).as("gsq"),
          sum(($"ng".cast(dec) * ($"ng" - 1) * (lit(2).cast(dec)
            * $"ng" + 5)).cast(dec)).as("gA"),
          sum(($"ng".cast(dec) * ($"ng" - 1) * ($"ng" - 2)).cast(dec))
            .as("gB"),
          sum(($"ng".cast(dec) * ($"ng" - 1)).cast(dec)).as("gC"))
      tieAgg.crossJoin(broadcast(grp))
        .withColumn("e4", ($"nn" * $"nn" - $"gsq").cast(dec))
        .withColumn("va",
          ($"nn" * ($"nn" - 1) * (lit(2).cast(dec) * $"nn" + 5)
            - $"gA" - $"tA").cast("double") / 72.0)
        .withColumn("vb",
          $"gB".cast("double") * $"tB".cast("double") /
            (lit(36.0) * ($"nn" * ($"nn" - 1) * ($"nn" - 2))
              .cast("double")))
        .withColumn("vc",
          $"gC".cast("double") * $"tC".cast("double") /
            (lit(8.0) * ($"nn" * ($"nn" - 1)).cast("double")))
        .withColumn("v", $"va" + $"vb" + $"vc")
        .select($"nn".cast("long").as("n"),
          ($"u2".cast("double") / 2.0).as("jt_stat"),
          Tables.nz(round(
            when($"v" <= 0.0, lit(null).cast("double"))
              .otherwise((lit(2).cast(dec) * $"u2" - $"e4")
                .cast("double") / (lit(4.0) * sqrt($"v"))), 4))
            .as("z_stat"))
    }),

    // Wald's SPRT on per-arm conversion rate (purchase share of
    // click+purchase events), arms split by the house md5 RNG on
    // user_id: cumulative LLR over the EVENT-TIME-ordered trial
    // stream, stop at the first boundary crossing. H0 p=0.40 vs
    // H1 p=0.50, alpha = beta = 0.05 — the boundaries ln(19)/−ln(19)
    // and the per-trial increments are ulp-pinned Scala constants
    // interpolated into both engines. The LLR at trial n is a
    // function of exact running (n, k) only, so the stream rides TWO
    // ops.PrefixSum passes (trials, successes) — never a
    // partition-less window — and the "first crossing" is a min_by
    // over the crossing rows. 100 TB: prefix sums are the
    // distributed-scan shape; everything after is arm-sized.
    "q222_sprt" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .filter($"event_type".isin("click", "purchase"))
        .select(
          (conv(substring(md5($"user_id".cast("string")), 1, 1),
            16, 10).cast("long") % 2).as("arm"),
          unix_micros($"ts").as("us"), $"event_id",
          when($"event_type" === "purchase", 1L).otherwise(0L)
            .as("s"))
      // one multi-value scan (r19): trials and successes share the
      // (arm, us, event_id) order
      val g2 = graft.ops.PrefixSum.runningTotals(ev,
        Seq($"arm", $"us", $"event_id"),
        Seq(lit(1L) -> "grn", $"s" -> "kcum"))
      val bases = g2.groupBy($"arm")
        .agg(min($"grn").as("n0"), min($"kcum" - $"s").as("k0"))
      val t = g2.join(broadcast(bases), Seq("arm"))
        .select($"arm", ($"grn" - $"n0" + 1L).as("n"),
          ($"kcum" - $"k0").as("k"))
        .withColumn("llr",
          $"k".cast("double") * lit(SprtC1)
            + ($"n" - $"k").cast("double") * lit(SprtC2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val crossed = t
        .filter($"llr" >= lit(SprtA) || $"llr" <= lit(SprtB))
        .withColumn("dir",
          when($"llr" >= lit(SprtA), "reject_h0")
            .otherwise("accept_h0"))
        .groupBy($"arm")
        .agg(min_by(struct($"n", $"k", $"llr", $"dir"), $"n")
          .as("fst"))
      val totals = t.groupBy($"arm")
        .agg(max($"n").as("n_trials"), max_by($"k", $"n").as("k_total"),
          max_by($"llr", $"n").as("llr_final"))
      totals.join(crossed, Seq("arm"), "left")
        .select(
          when($"arm" === 0, "A").otherwise("B").as("arm"),
          $"n_trials", $"k_total",
          coalesce($"fst.dir", lit("continue")).as("decision"),
          $"fst.n".as("n_at_decision"),
          Tables.nz(round($"fst.llr", 6)).as("llr_at_decision"),
          Tables.nz(round($"llr_final", 6)).as("llr_final"))
        .orderBy($"arm")
    }),

    // ε-differentially-private release of the per-(lang, source)
    // document histogram: Laplace(Δ/ε) noise, Δ = 1 (counting query),
    // ε = 1, drawn DETERMINISTICALLY per group from the house md5 RNG
    // by inverse CDF — u = (hex + ½)/16¹² from the first 12 hex
    // nibbles (the +½ clamps u strictly inside (0, 1): a group whose
    // nibbles were all zero would otherwise draw u = 0 and poison the
    // release with ln(0) = −∞ — r17 ADVICE; exact integer arithmetic,
    // identical both engines), noise = −sign(u−½)·ln(1−2|u−½|).
    // The parity row keeps true_n so the gate can hash it; a
    // production release drops that column and publishes (group,
    // released, epsilon) — the accounting row a training-data
    // pipeline ships next to pipeline_dataset_card. Group rollup +
    // row-local noise: scan-shaped at any corpus size.
    "pipeline_dp_count" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("true_n"))
        .withColumn("u",
          (conv(substring(md5(concat(lit("dp:"), $"lang", lit(":"),
            $"source")), 1, 12), 16, 10).cast("long")
            .cast("double") + lit(0.5)) / lit(281474976710656.0))
        .withColumn("noise",
          -signum($"u" - 0.5) * log(lit(1.0)
            - lit(2.0) * abs($"u" - 0.5)))
        .select($"lang", $"source", $"true_n",
          lit(1.0).as("epsilon"),
          Tables.nz(round($"noise", 6)).as("noise"),
          Tables.nz(round($"true_n".cast("double") + $"noise", 6))
            .as("released"))
        .orderBy($"lang", $"source")
    }),

    // Restricted mean survival time at τ ∈ {6, 12, 24} months — the
    // survival panel's EFFECT-SIZE number (q120 draws the KM curve,
    // q202 the hazard, q166 tests two curves; RMST is "expected
    // months retained within the first τ", the quantity a retention
    // business case actually prices). Step integral of the KM curve
    // over the SAME months-bounded risk table (q120's frame, factors
    // 1 − d/n in the identical IEEE order): per event index i, the
    // τ-clamped segment times the PREFIX product of factors (the
    // q202 slice+aggregate idiom — O(months²) on a ≤ span/30 array),
    // plus the τ tail segment. Deliberately NOT a struct-accumulator
    // fold: DuckDB's list_reduce evaluates struct-literal fields
    // sequentially, so an accumulator whose 'r' reads 's' silently
    // sees the CURRENT step's update — measured 5.9927 vs the
    // correct 5.9960 before the prefix-product rewrite. τ rows are a
    // 3-literal explode.
    "q223_rmst" -> ((s, d) => {
      import s.implicits._
      val maxd = Tables.load(s, d, "orders")
        .agg(max(to_date($"o_orderdate")).as("maxd"))
      val cust = Tables.load(s, d, "orders")
        .select($"o_custkey", to_date($"o_orderdate").as("day"))
        .groupBy($"o_custkey")
        .agg(min($"day").as("first"), max($"day").as("last"))
        .crossJoin(broadcast(maxd))
        .select(
          (datediff($"maxd", $"last") > 90).as("churned"),
          expr("""CAST(CASE WHEN datediff(maxd, last) > 90
                  THEN datediff(last, first) div 30
                  ELSE datediff(maxd, first) div 30 END AS BIGINT)""")
            .as("t"))
      val byMonth = cust.groupBy($"t")
        .agg(sum(when($"churned", 1L).otherwise(0L)).as("d"),
          sum(when($"churned", 0L).otherwise(1L)).as("c"))
      val risk = byMonth
        .withColumn("n_at_risk",
          sum($"d" + $"c").over(
            org.apache.spark.sql.expressions.Window.orderBy($"t")
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .currentRow, org.apache.spark.sql.expressions.Window
                .unboundedFollowing)))
        .withColumn("factor",
          lit(1.0) - $"d".cast("double") / $"n_at_risk".cast("double"))
      risk
        .agg(sort_array(collect_list(struct($"t", $"factor")))
          .as("arr"))
        .select($"arr",
          explode(array(lit(6L), lit(12L), lit(24L))).as("tau"))
        .select($"tau",
          Tables.nz(round(expr(
            """CASE WHEN size(arr) = 0 THEN cast(tau as double) ELSE
                 aggregate(
                   transform(sequence(1, size(arr)), i ->
                     cast(least(element_at(arr, i).t, tau)
                       - least(if(i = 1, 0L,
                           element_at(arr, i - 1).t), tau) as double)
                     * aggregate(slice(arr, 1, i - 1),
                         cast(1.0 as double),
                         (a, x) -> a * x.factor)),
                   cast(0.0 as double), (a, v) -> a + v)
                 + cast(tau - least(element_at(arr, size(arr)).t, tau)
                     as double)
                   * aggregate(arr, cast(1.0 as double),
                       (a, x) -> a * x.factor)
               END"""), 6)).as("rmst_months"),
          Tables.nz(round(expr(
            """aggregate(filter(arr, x -> x.t <= tau),
                 cast(1.0 as double), (a, x) -> a * x.factor)"""), 6))
            .as("s_at_tau"))
        .orderBy($"tau")
    }),

    // Linear CKA between the full 64-d embedding and its 16-d
    // matryoshka prefix — the REPRESENTATION-similarity read next to
    // emb_matryoshka_eval's retrieval recall: "how much of the full
    // geometry does the prefix already encode", the number used to
    // pick truncation dims for cheap retrieval tiers. Rides
    // emb_effective_dim's exact machinery verbatim: components
    // quantized to the 1e6 grid (exact long partials, so distributed
    // sums commute), ONE triangular covariance panel (d(d+1)/2 =
    // 2080 cells, d-bounded — the CollectGuard whitelist class), and
    // THREE weighted Frobenius folds over the sorted panel: the full
    // matrix (wt), the 16×16 block, and the 16×64 cross block
    // (weight 2/1/0 by how many of i, j fall under the prefix).
    // CKA = ‖C_xy‖²_F / √(‖C_xx‖²_F·‖C_yy‖²_F), one final IEEE
    // expression; frob terms ship unrounded (the emb_effective_dim
    // 1e22-magnitude rounding lesson).
    "emb_cka" -> ((s, d) => {
      val P = 16 // matryoshka prefix width
      val q = Tables.spread(Tables.load(s, d, "embeddings"))
        .select(expr("transform(embedding, v -> " +
          "CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("q"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nVecs = q.count()
      val dims = q.select(posexplode(col("q")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val dDim = q.select(size(col("q"))).limit(1).head.getInt(0)
      val pairs = q.select(posexplode(expr(
          """flatten(transform(sequence(0, size(q) - 2), i ->
             transform(sequence(i + 1, size(q) - 1), j ->
               element_at(q, i + 1) * element_at(q, j + 1))))"""))
          .as(Seq("pos", "xy")))
        .groupBy(col("pos")).agg(sum(col("xy")).as("sxy"))
      val idx = q.sparkSession.range(1).select(posexplode(expr(
          s"""flatten(transform(sequence(0, $dDim - 2), i ->
              transform(sequence(i + 1, $dDim - 1), j ->
                struct(i AS i, j AS j))))""")).as(Seq("pos", "ij")))
        .select(col("pos"), col("ij.i").as("i"), col("ij.j").as("j"))
      val off = pairs
        .join(broadcast(idx), Seq("pos"))
        .join(broadcast(dims), Seq("i"))
        .join(broadcast(dims.select(col("i").as("j"),
          col("sx").as("sy"))), Seq("j"))
        .select(col("i").cast("long").as("i"),
          col("j").cast("long").as("j"), lit(2L).as("wt"),
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
           (col("n").cast("double") * col("n").cast("double")))
            .as("cov"))
      val diag = dims.select(col("i").cast("long").as("i"),
        col("i").cast("long").as("j"), lit(1L).as("wt"),
        ((col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")) /
         (col("n").cast("double") * col("n").cast("double")))
          .as("cov"))
      off.unionAll(diag)
        .agg(sort_array(collect_list(struct(col("i"), col("j"),
          col("wt"), col("cov")))).as("cs"))
        .select(
          lit(nVecs).as("n_vecs"),
          lit(dDim.toLong).as("d_full"),
          lit(P.toLong).as("d_prefix"),
          expr("""aggregate(cs, CAST(0.0 AS DOUBLE), (a, x) ->
            a + x.wt * x.cov * x.cov)""").as("fxx"),
          expr(s"""aggregate(cs, CAST(0.0 AS DOUBLE), (a, x) ->
            a + CASE WHEN x.i < $P AND x.j < $P
              THEN x.wt * x.cov * x.cov ELSE CAST(0.0 AS DOUBLE)
            END)""").as("fyy"),
          expr(s"""aggregate(cs, CAST(0.0 AS DOUBLE), (a, x) ->
            a + CASE WHEN x.wt = 1 THEN
                  CASE WHEN x.i < $P THEN x.cov * x.cov
                    ELSE CAST(0.0 AS DOUBLE) END
                ELSE (CASE WHEN x.i < $P THEN 1.0 ELSE 0.0 END
                    + CASE WHEN x.j < $P THEN 1.0 ELSE 0.0 END)
                  * x.cov * x.cov
            END)""").as("fxy"))
        .select(col("n_vecs"), col("d_full"), col("d_prefix"),
          col("fxx"), col("fyy"), col("fxy"),
          Tables.nz(round(
            when(col("fxx") <= 0.0 || col("fyy") <= 0.0,
              lit(null).cast("double"))
              .otherwise(col("fxy") /
                sqrt(col("fxx") * col("fyy"))), 6)).as("cka"))
    }),

    // Ansari–Bradley two-sample SCALE test on line quantity between
    // return flags A and R — the dispersion member completing the
    // nonparametric pair panel (location: q171 U / q218 signed-rank;
    // omnibus: q125 KS / q220 CvM; scale: this). AB scores walk in
    // from both ends (a(r) = min(r, N+1−r)), so a sample concentrated
    // mid-range scores high — "same spread?" without any normality
    // assumption. Midrank ties ride EXACTLY: a cell occupying pooled
    // ranks [cum−t+1, cum] has an integer score SUM with a closed
    // arithmetic-series form split at ⌊(N+1)/2⌋, so T = Σ k_A·S/t,
    // ā = ΣS/N and Σa² = ΣS²/t assemble from exact integers; the
    // per-cell rational divisions fold in quantity order over the
    // 50-cell panel (l_quantity ∈ 1..50 — value-domain-bounded by
    // the data contract, the q189 whitelist class). Normal z from
    // the general-scores moments E = n1·ā,
    // Var = n1·n2·(Σa² − N·ā²)/(N(N−1)). Stated bound (the
    // text_heavy_hitters discipline): the series products are exact
    // BIGINT through N ≈ 2·10⁹ pooled rows; past that lift S to
    // decimal(38,0).
    "q224_ansari_bradley" -> ((s, d) => {
      import s.implicits._
      val li = Tables.load(s, d, "lineitem")
        .filter($"l_returnflag".isin("A", "R"))
        .select($"l_quantity".cast("long").as("qty"),
          ($"l_returnflag" === "A").as("isa"))
      val byVal = li.groupBy($"qty")
        .agg(sum(when($"isa", 1L).otherwise(0L)).as("ka"),
          count(lit(1)).as("t"))
      val cum = graft.ops.PrefixSum.runningTotal(byVal,
        Seq($"qty"), $"t", "cum")
      val tot = byVal.agg(sum($"ka").as("n1"),
        sum($"t" - $"ka").as("n2"))
      cum.crossJoin(broadcast(tot))
        .agg(max($"n1").as("n1"), max($"n2").as("n2"),
          sort_array(collect_list(struct($"qty", $"ka", $"t",
            $"cum"))).as("cs"))
        // per-cell integer score sum S over ranks [cum−t+1, cum]:
        // Σ min(r, M−r) splits at h = M div 2 into two arithmetic
        // series (M = N+1); computed inside ONE transform so both
        // engines evaluate the identical expression
        .withColumn("cells", expr(
          """transform(cs, x -> named_struct(
               'ka', x.ka, 't', x.t,
               's', CAST(
                 CASE WHEN least(x.cum, (n1 + n2 + 1) div 2)
                        >= x.cum - x.t + 1
                   THEN ((x.cum - x.t + 1)
                     + least(x.cum, (n1 + n2 + 1) div 2))
                     * (least(x.cum, (n1 + n2 + 1) div 2)
                        - (x.cum - x.t + 1) + 1) div 2
                   ELSE 0 END
                 + CASE WHEN x.cum
                          >= greatest(x.cum - x.t + 1,
                               (n1 + n2 + 1) div 2 + 1)
                   THEN (n1 + n2 + 1)
                     * (x.cum - greatest(x.cum - x.t + 1,
                         (n1 + n2 + 1) div 2 + 1) + 1)
                     - (greatest(x.cum - x.t + 1,
                         (n1 + n2 + 1) div 2 + 1) + x.cum)
                       * (x.cum - greatest(x.cum - x.t + 1,
                           (n1 + n2 + 1) div 2 + 1) + 1) div 2
                   ELSE 0 END AS BIGINT)))"""))
        .withColumn("tstat", expr(
          """aggregate(cells, CAST(0.0 AS DOUBLE), (a, x) ->
             a + CAST(x.ka AS DOUBLE) * CAST(x.s AS DOUBLE)
               / CAST(x.t AS DOUBLE))"""))
        .withColumn("ssum", expr(
          "aggregate(cells, 0L, (a, x) -> a + x.s)"))
        .withColumn("s2sum", expr(
          """aggregate(cells, CAST(0.0 AS DOUBLE), (a, x) ->
             a + CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
               / CAST(x.t AS DOUBLE))"""))
        .withColumn("nn", ($"n1" + $"n2").cast("double"))
        .withColumn("abar", $"ssum".cast("double") / $"nn")
        .withColumn("v",
          $"n1".cast("double") * $"n2".cast("double")
            * ($"s2sum" - $"nn" * $"abar" * $"abar")
            / ($"nn" * ($"nn" - 1.0)))
        .select($"n1", $"n2",
          Tables.nz(round($"tstat", 4)).as("ab_t"),
          Tables.nz(round(
            when($"v" <= 0.0, lit(null).cast("double"))
              .otherwise(($"tstat" - $"n1".cast("double") * $"abar")
                / sqrt($"v")), 4)).as("z_stat"))
    }),

    // Maximal-marginal-relevance diversity rerank (Carbonell &
    // Goldstein 1998): from each eval-tier query's top-50
    // inner-product candidates, greedily select 10 maximizing
    // λ·rel − (1−λ)·max-sim-to-selected (λ = ½) — the rerank every
    // retrieval-augmented pipeline runs so the context window isn't
    // 10 near-duplicates of the same passage. DETERMINISM BY
    // CONSTRUCTION: the greedy's argmax runs on EXACT INTEGERS — the
    // 50 candidate embeddings quantize to the house 1e6 grid, all
    // rel/sim values are exact long dots, the doubled MMR score
    // (rel − maxsim, λ = ½ cleared) is a long, and each step's argmax
    // is one integer fold with (score, index) packed into a single
    // long (score·128 + (128 − idx) — idx ≤ 50 < 128, so the pack is
    // order-isomorphic to (score desc, idx asc)). A float greedy
    // would flip SELECTIONS on 1-ulp noise; integers cannot.
    // Preselection rides the ann_mips skeleton verbatim (fused
    // codegen DotProduct, query tier capped ≤1000, WindowGroupLimit
    // top-50); the per-query 50×50 sim matrix + 10-step greedy are
    // row-local HOFs over a k-bounded collect (CollectGuard class).
    "ann_mmr" -> ((s, d) => mmrRerank(s, d)),

    // Moving-average type-token ratio (MATTR, window 50) per document
    // — the lexical-diversity score that, unlike raw TTR
    // (text_quality) or hapax share (text_hapax_ratio), does NOT
    // shrink mechanically with document length, so long and short
    // docs are comparable on one scale (Covington & McFall 2010's
    // motivation). Row-local: per doc, every 50-token window's
    // distinct count via array HOFs (O(len·w) work on KB-scale docs —
    // the data contract), window ratios averaged in window order;
    // docs shorter than the window fall back to plain TTR. Zero
    // shuffles before the display sort.
    // Importance-reweighting ESS toward a lang-uniform target — the
    // number that decides REWEIGHT vs RESAMPLE when balancing a
    // skewed corpus (pipeline_budget_mix/temperature_mix compute the
    // weights; this reports what they COST): per-doc weight
    // w_g = N/(G·n_g) normalizes the target mixture to corpus mass,
    // and Kish's effective sample size (Σw)²/Σw² collapses in closed
    // form to G²/Σ_g(1/n_g) — G·harmonic-mean(n_g), equal to N only
    // when the corpus is already uniform. A tiny stratum craters ESS
    // (its docs carry huge weights), which is exactly the signal to
    // resample instead. Exact integers to ONE divide per lang; the
    // 1/n_g fold runs in lang order over the enum-bounded panel.
    "pipeline_reweight_ess" -> ((s, d) => {
      import s.implicits._
      val per = Tables.load(s, d, "documents")
        .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum($"n_docs").as("nn"),
        count(lit(1)).as("g"),
        sort_array(collect_list(struct($"lang", $"n_docs"))).as("ls"))
        .withColumn("inv", expr(
          """aggregate(ls, cast(0.0 as double),
             (a, x) -> a + 1.0 / cast(x.n_docs as double))"""))
        .select($"nn", $"g",
          ($"g".cast("double") * $"g".cast("double") / $"inv")
            .as("ess"))
      per.crossJoin(broadcast(tot))
        .select($"lang", $"n_docs",
          Tables.nz(round($"nn".cast("double") /
            ($"g".cast("double") * $"n_docs".cast("double")), 6))
            .as("weight"),
          $"nn".as("n_total"), $"g".as("n_langs"),
          Tables.nz(round($"ess", 4)).as("ess"),
          Tables.nz(round($"ess" / $"nn".cast("double"), 6))
            .as("ess_ratio"))
        .orderBy($"lang")
    }),

    // Burrows's Delta between sources — the stylometric distance
    // curation uses to spot same-author / templated content ACROSS
    // source labels (near-dup dedup sees shared strings; Delta sees
    // shared STYLE through disjoint text). Classic recipe: the top-50
    // corpus-wide tokens (function words dominate any corpus head),
    // per-source relative frequencies, per-token z-scores across the
    // source panel, Δ(a,b) = mean_w |z_w(a) − z_w(b)|. Exactness:
    // counts are exact longs end-to-end (frequencies = ONE divide per
    // (source, token) cell from exact sums), the per-token mean/sd
    // fold over the ≤|sources| panel and the per-pair 50-token fold
    // both run in sorted order (q92 discipline), and the pair table
    // is enum-bounded (|sources|²/2 rows). The top-50 pick is
    // (count desc, token asc) — deterministic under ties.
    "text_burrows_delta" -> ((s, d) => {
      import s.implicits._
      val tok = Tables.spread(Tables.load(s, d, "documents"))
        .select($"source",
          explode(split(lower($"text"), "\\s+")).as("token"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val top = tok.groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token".asc)
        .limit(50)
        .select($"token")
      val srcTotals = tok.groupBy($"source")
        .agg(count(lit(1)).as("n_tok"))
      val cells = tok.join(broadcast(top), Seq("token"))
        .groupBy($"source", $"token")
        .agg(count(lit(1)).as("k"))
      // complete (source × top-token) grid: absent cells are genuine
      // zero frequencies (a source that never uses a function word is
      // a STRONG style signal, not missing data)
      val grid = srcTotals.crossJoin(broadcast(top))
        .join(cells, Seq("source", "token"), "left")
        .select($"source", $"token", $"n_tok",
          (coalesce($"k", lit(0L)).cast("double") * 1000.0 /
            $"n_tok".cast("double")).as("f"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // per-token moments across the source panel (sorted fold)
      val moments = grid.groupBy($"token")
        .agg(count(lit(1)).as("ns"),
          sort_array(collect_list(struct($"source", $"f"))).as("sf"))
        .withColumn("mu", expr(
          """aggregate(sf, cast(0.0 as double), (a, x) -> a + x.f)""")
          / $"ns".cast("double"))
        .withColumn("sd", sqrt(expr(
          """aggregate(sf, cast(0.0 as double),
             (a, x) -> a + (x.f - mu) * (x.f - mu))""")
          / $"ns".cast("double")))
        .select($"token", $"mu", $"sd")
      val z = grid.join(broadcast(moments), Seq("token"))
        .select($"source", $"token",
          when($"sd" > 0.0, ($"f" - $"mu") / $"sd").otherwise(0.0)
            .as("z"))
      val za = z.select($"source".as("src_a"), $"token", $"z".as("za"))
      val zb = z.select($"source".as("src_b"), $"token", $"z".as("zb"))
      za.join(zb, Seq("token"))
        .filter($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b")
        .agg(count(lit(1)).as("n_words"),
          sort_array(collect_list(struct($"token",
            abs($"za" - $"zb").as("dz")))).as("ds"))
        .select($"src_a", $"src_b", $"n_words",
          Tables.nz(round(expr(
            """aggregate(ds, cast(0.0 as double), (a, x) -> a + x.dz)""")
            / $"n_words".cast("double"), 6)).as("delta"))
        .orderBy($"src_a", $"src_b")
    }),

    "text_mattr" -> ((s, d) => {
      import s.implicits._
      val W = 50
      Tables.spread(Tables.load(s, d, "documents"))
        .select($"doc_id",
          split(lower($"text"), "\\s+").as("toks"))
        .withColumn("n", size($"toks").cast("long"))
        .withColumn("mattr", expr(
          s"""CASE WHEN n <= 0 THEN CAST(NULL AS DOUBLE)
              WHEN n < $W THEN
                CAST(size(array_distinct(toks)) AS DOUBLE)
                  / CAST(n AS DOUBLE)
              ELSE
                aggregate(
                  transform(sequence(1L, n - ${W}L + 1L), i ->
                    CAST(size(array_distinct(
                        slice(toks, cast(i as int), $W))) AS DOUBLE)
                      / CAST($W AS DOUBLE)),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                / CAST(n - ${W}L + 1L AS DOUBLE)
              END"""))
        .select($"doc_id", $"n".as("n_tokens"),
          Tables.nz(round($"mattr", 6)).as("mattr"))
        .orderBy($"doc_id")
    }))

  def oracles: Map[String, String] = Map(

    "q218_wilcoxon_signed_rank" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS hr,
             CAST(sum(CASE WHEN event_type = 'click'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS c,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS p
           FROM events
           WHERE event_type IN ('click', 'purchase')
           GROUP BY 1),
         dif AS (
           SELECT c - p AS diff FROM hourly WHERE c - p <> 0),
         byabs AS (
           SELECT abs(diff) AS absd,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS kpos,
             CAST(count(*) AS BIGINT) AS t
           FROM dif GROUP BY 1),
         rk AS (
           SELECT kpos, t,
             CAST(2 * sum(t) OVER (ORDER BY absd
               ROWS UNBOUNDED PRECEDING) - t + 1 AS HUGEINT)
               AS rank2
           FROM byabs),
         agg AS (
           SELECT CAST(sum(t) AS HUGEINT) AS nd,
             sum(CAST(kpos AS HUGEINT) * rank2) AS w2,
             sum(CAST(t AS HUGEINT) * t * t - t) AS tie3
           FROM rk),
         v AS (
           SELECT nd, w2,
             2 * nd * (nd + 1) * (2 * nd + 1) - tie3 AS v48
           FROM agg)
         SELECT CAST(nd AS BIGINT) AS n_pairs,
           CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
           round(CASE WHEN nd < 2 OR v48 <= 0 THEN NULL
             ELSE CAST(2 * w2 - nd * (nd + 1) AS DOUBLE) /
               (4.0 * sqrt(CAST(v48 AS DOUBLE) / 48.0)) END, 4) + 0.0
             AS z_stat
         FROM v""",

    "q219_hurst" -> {
      s"""WITH $hourGridSql,
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM grid),
         blk AS (
           SELECT m, t // m AS b, t % m AS pos, v
           FROM grid, (SELECT unnest([8, 16, 32, 64]) AS m) ms, nn
           WHERE t // m < n_hours // m),
         per AS (
           SELECT m, b,
             list({'pos': pos, 'v': v} ORDER BY pos) AS arr,
             CAST(sum(v) AS BIGINT) AS sx,
             sum(CAST(v AS HUGEINT) * v) AS sxx,
             CAST(count(*) AS BIGINT) AS cnt
           FROM blk GROUP BY 1, 2),
         rs AS (
           SELECT m, b,
             CASE WHEN sqrt(CAST(m * sxx - CAST(sx AS HUGEINT) * sx
                 AS DOUBLE)) / CAST(m AS DOUBLE) > 0.0
               THEN (list_max(prof) - list_min(prof)) /
                 (sqrt(CAST(m * sxx - CAST(sx AS HUGEINT) * sx
                   AS DOUBLE)) / CAST(m AS DOUBLE))
               ELSE NULL END AS rs
           FROM (
             SELECT m, b, sx, sxx,
               list_transform(range(1, CAST(m AS INTEGER) + 1), i ->
                 CAST(list_sum(list_transform(arr[1:i], e -> e.v))
                   AS DOUBLE)
                 - CAST(i AS DOUBLE)
                   * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
                 AS prof
             FROM per)),
         perm AS (
           SELECT m, CAST(count(rs) AS BIGINT) AS n_blocks,
             CASE WHEN count(rs) > 0 THEN
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(rs ORDER BY b)), (a, x) -> a + x)
               / CAST(count(rs) AS DOUBLE)
             ELSE NULL END AS avg_rs
           FROM rs WHERE rs IS NOT NULL GROUP BY 1),
         piv AS (
           SELECT
             max(CASE WHEN m = 8 THEN avg_rs END) AS rs8,
             max(CASE WHEN m = 16 THEN avg_rs END) AS rs16,
             max(CASE WHEN m = 32 THEN avg_rs END) AS rs32,
             max(CASE WHEN m = 64 THEN avg_rs END) AS rs64,
             min(n_blocks) AS min_blocks
           FROM perm)
         SELECT nn.n_hours,
           round(rs8, 6) + 0.0 AS rs8, round(rs16, 6) + 0.0 AS rs16,
           round(rs32, 6) + 0.0 AS rs32, round(rs64, 6) + 0.0 AS rs64,
           round(CASE WHEN min_blocks < 1 OR rs8 IS NULL
               OR rs16 IS NULL OR rs32 IS NULL OR rs64 IS NULL
               OR rs8 <= 0.0 OR rs16 <= 0.0 OR rs32 <= 0.0
               OR rs64 <= 0.0 THEN NULL
             ELSE (-1.5 * ln(rs8) - 0.5 * ln(rs16) + 0.5 * ln(rs32)
               + 1.5 * ln(rs64)) / (5.0 * $Ln2) END, 4) + 0.0
             AS hurst
         FROM piv, nn"""
    },

    "q220_cramer_von_mises" ->
      """WITH o AS (
           SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority = '1-URGENT' AS isa
           FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         bv AS (
           SELECT cents,
             CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
               AS ka,
             CAST(count(*) AS BIGINT) AS t
           FROM o GROUP BY 1),
         cu AS (
           SELECT ka, t,
             CAST(sum(t) OVER w AS BIGINT) AS cum,
             CAST(sum(ka) OVER w AS BIGINT) AS cuma
           FROM bv
           WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
         tot AS (
           SELECT CAST(sum(ka) AS BIGINT) AS n1,
             CAST(sum(t - ka) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS n_support
           FROM bv),
         agg AS (
           SELECT sum(CAST(t AS HUGEINT) *
             (CAST(cuma AS HUGEINT) * n2
               - CAST(cum - cuma AS HUGEINT) * n1) *
             (CAST(cuma AS HUGEINT) * n2
               - CAST(cum - cuma AS HUGEINT) * n1)) AS num
           FROM cu, tot)
         SELECT n1, n2, n_support,
           round(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
             ELSE CAST(num AS DOUBLE) /
               (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
                 (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)))
             END, 6) + 0.0 AS cvm_t,
           round((1.0 + 1.0 / CAST(n1 + n2 AS DOUBLE)) / 6.0, 6)
             + 0.0 AS cvm_t_null_mean
         FROM agg, tot""",

    "q221_jonckheere" ->
      """WITH o AS (
           SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g
           FROM orders),
         bv AS (
           SELECT cents,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS k1,
             CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS k2,
             CAST(sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS k3,
             CAST(sum(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS k4,
             CAST(sum(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS k5
           FROM o GROUP BY 1),
         cu AS (
           SELECT k1, k2, k3, k4, k5,
             k1 + k2 + k3 + k4 + k5 AS tv,
             CAST(sum(k1) OVER w AS BIGINT) AS q1,
             CAST(sum(k2) OVER w AS BIGINT) AS q2,
             CAST(sum(k3) OVER w AS BIGINT) AS q3,
             CAST(sum(k4) OVER w AS BIGINT) AS q4,
             CAST(sum(k5) OVER w AS BIGINT) AS q5
           FROM bv
           WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)),
         terms AS (
           SELECT
             CAST(k2 AS HUGEINT) * (2 * q1 - k1)
             + CAST(k3 AS HUGEINT) * (2 * q1 - k1)
             + CAST(k4 AS HUGEINT) * (2 * q1 - k1)
             + CAST(k5 AS HUGEINT) * (2 * q1 - k1)
             + CAST(k3 AS HUGEINT) * (2 * q2 - k2)
             + CAST(k4 AS HUGEINT) * (2 * q2 - k2)
             + CAST(k5 AS HUGEINT) * (2 * q2 - k2)
             + CAST(k4 AS HUGEINT) * (2 * q3 - k3)
             + CAST(k5 AS HUGEINT) * (2 * q3 - k3)
             + CAST(k5 AS HUGEINT) * (2 * q4 - k4) AS u2t,
             tv
           FROM cu),
         ta AS (
           SELECT CAST(sum(u2t) AS HUGEINT) AS u2,
             sum(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5)) AS tA,
             sum(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2)) AS tB,
             sum(CAST(tv AS HUGEINT) * (tv - 1)) AS tC
           FROM terms),
         gr AS (
           SELECT CAST(sum(ng) AS HUGEINT) AS nn,
             sum(CAST(ng AS HUGEINT) * ng) AS gsq,
             sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS gA,
             sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS gB,
             sum(CAST(ng AS HUGEINT) * (ng - 1)) AS gC
           FROM (SELECT g, CAST(count(*) AS BIGINT) AS ng
                 FROM o GROUP BY 1)),
         fin AS (
           SELECT nn, u2, nn * nn - gsq AS e4,
             CAST(nn * (nn - 1) * (2 * nn + 5) - gA - tA AS DOUBLE)
               / 72.0
             + CAST(gB AS DOUBLE) * CAST(tB AS DOUBLE) /
               (36.0 * CAST(nn * (nn - 1) * (nn - 2) AS DOUBLE))
             + CAST(gC AS DOUBLE) * CAST(tC AS DOUBLE) /
               (8.0 * CAST(nn * (nn - 1) AS DOUBLE)) AS v
           FROM ta, gr)
         SELECT CAST(nn AS BIGINT) AS n,
           CAST(u2 AS DOUBLE) / 2.0 AS jt_stat,
           round(CASE WHEN v <= 0.0 THEN NULL
             ELSE CAST(2 * u2 - e4 AS DOUBLE) / (4.0 * sqrt(v))
             END, 4) + 0.0 AS z_stat
         FROM fin""",

    "q222_sprt" ->
      s"""WITH ev AS (
           SELECT
             CAST(strpos('0123456789abcdef',
               substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1
               AS BIGINT) % 2 AS arm,
             epoch_us(ts) AS us, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
           FROM events
           WHERE event_type IN ('click', 'purchase')),
         t AS (
           SELECT arm,
             CAST(row_number() OVER w AS BIGINT) AS n,
             CAST(sum(s) OVER w AS BIGINT) AS k
           FROM ev
           WINDOW w AS (PARTITION BY arm ORDER BY us, event_id
             ROWS UNBOUNDED PRECEDING)),
         l AS (
           SELECT arm, n, k,
             CAST(k AS DOUBLE) * ($SprtC1)
               + CAST(n - k AS DOUBLE) * ($SprtC2) AS llr
           FROM t),
         crossed AS (
           SELECT arm, n, k, llr,
             CASE WHEN llr >= ($SprtA) THEN 'reject_h0'
               ELSE 'accept_h0' END AS dir,
             row_number() OVER (PARTITION BY arm ORDER BY n) AS rn
           FROM l
           WHERE llr >= ($SprtA) OR llr <= ($SprtB)),
         totals AS (
           SELECT arm, max(n) AS n_trials,
             max_by(k, n) AS k_total,
             max_by(llr, n) AS llr_final
           FROM l GROUP BY 1)
         SELECT CASE WHEN t.arm = 0 THEN 'A' ELSE 'B' END AS arm,
           t.n_trials, t.k_total,
           coalesce(c.dir, 'continue') AS decision,
           c.n AS n_at_decision,
           round(c.llr, 6) + 0.0 AS llr_at_decision,
           round(t.llr_final, 6) + 0.0 AS llr_final
         FROM totals t LEFT JOIN crossed c
           ON c.arm = t.arm AND c.rn = 1
         ORDER BY arm""",

    "pipeline_dp_count" ->
      """WITH g AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS true_n
           FROM documents GROUP BY 1, 2),
         u AS (
           SELECT lang, source, true_n,
             (CAST(CAST(('0x' || substr(md5('dp:' || lang || ':' ||
               source), 1, 12)) AS BIGINT) AS DOUBLE) + 0.5)
               / 281474976710656.0 AS u
           FROM g)
         SELECT lang, source, true_n,
           1.0 AS epsilon,
           round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
             + 0.0 AS noise,
           round(CAST(true_n AS DOUBLE)
             + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
             + 0.0 AS released
         FROM u
         ORDER BY lang, source""",

    "q223_rmst" ->
      """WITH maxd AS (
           SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
         cust AS (
           SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first,
             max(CAST(o_orderdate AS DATE)) AS last
           FROM orders GROUP BY 1),
         ev AS (
           SELECT (maxd - last) > 90 AS churned,
             CAST(CASE WHEN (maxd - last) > 90
                  THEN (last - first) // 30
                  ELSE (maxd - first) // 30 END AS BIGINT) AS t
           FROM cust, maxd),
         bymonth AS (
           SELECT t,
             CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
               AS c
           FROM ev GROUP BY 1),
         risk AS (
           SELECT t,
             CAST(1.0 AS DOUBLE) - CAST(d AS DOUBLE) /
               CAST(CAST(sum(d + c) OVER (ORDER BY t DESC) AS BIGINT)
                 AS DOUBLE) AS factor
           FROM bymonth),
         one AS (
           SELECT list({'t': t, 'factor': factor} ORDER BY t) AS arr
           FROM risk),
         taus AS (SELECT CAST(unnest([6, 12, 24]) AS BIGINT) AS tau),
         red AS (
           SELECT tau,
             CASE WHEN len(arr) = 0 THEN CAST(tau AS DOUBLE) ELSE
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(arr) + 1), i ->
                   CAST(least(arr[i].t, tau)
                     - least(CASE WHEN i = 1 THEN 0
                         ELSE arr[i - 1].t END, tau) AS DOUBLE)
                   * list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                       list_transform(arr[1:i - 1], x -> x.factor)),
                       (a, b) -> a * b))), (a, b) -> a + b)
               + CAST(tau - least(arr[len(arr)].t, tau) AS DOUBLE)
                 * list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                     list_transform(arr, x -> x.factor)),
                     (a, b) -> a * b)
             END AS r,
             list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(list_filter(arr, x -> x.t <= tau),
                 x -> x.factor)), (a, b) -> a * b) AS s_tau
           FROM one, taus)
         SELECT tau,
           round(r, 6) + 0.0 AS rmst_months,
           round(s_tau, 6) + 0.0 AS s_at_tau
         FROM red
         ORDER BY tau""",

    "emb_cka" ->
      """WITH q AS (
           SELECT list_transform(embedding, v ->
             CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
           FROM embeddings),
         nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM q),
         dd AS (SELECT CAST(max(len(q)) AS BIGINT) AS d_full FROM q),
         dims AS (
           SELECT pos - 1 AS i, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM (SELECT unnest(q) AS x,
                   unnest(range(1, len(q) + 1)) AS pos FROM q)
           GROUP BY 1),
         p AS (
           SELECT unnest(flatten(list_transform(range(0, len(q) - 1),
             i -> list_transform(range(i + 1, len(q)), j ->
               {'i': i, 'j': j, 'xy': q[i + 1] * q[j + 1]})))) AS s
           FROM q),
         prs AS (
           SELECT s.i AS i, s.j AS j, CAST(sum(s.xy) AS BIGINT) AS sxy
           FROM p GROUP BY 1, 2),
         covs AS (
           SELECT CAST(prs.i AS BIGINT) AS i, CAST(prs.j AS BIGINT) AS j,
             CAST(2 AS BIGINT) AS wt,
             (CAST(di.n AS DOUBLE) * CAST(prs.sxy AS DOUBLE)
               - CAST(di.sx AS DOUBLE) * CAST(dj.sx AS DOUBLE)) /
             (CAST(di.n AS DOUBLE) * CAST(di.n AS DOUBLE)) AS cov
           FROM prs
           JOIN dims di ON di.i = prs.i
           JOIN dims dj ON dj.i = prs.j
           UNION ALL
           SELECT CAST(i AS BIGINT), CAST(i AS BIGINT),
             CAST(1 AS BIGINT),
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
           FROM dims),
         one AS (
           SELECT list({'i': i, 'j': j, 'wt': wt, 'cov': cov}
             ORDER BY i, j, wt, cov) AS cs
           FROM covs),
         fr AS (
           SELECT
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cs, x -> x.wt * x.cov * x.cov)),
               (a, b) -> a + b) AS fxx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cs, x ->
                 CASE WHEN x.i < 16 AND x.j < 16
                   THEN x.wt * x.cov * x.cov
                   ELSE CAST(0.0 AS DOUBLE) END)),
               (a, b) -> a + b) AS fyy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cs, x ->
                 CASE WHEN x.wt = 1 THEN
                     CASE WHEN x.i < 16 THEN x.cov * x.cov
                       ELSE CAST(0.0 AS DOUBLE) END
                   ELSE (CASE WHEN x.i < 16 THEN 1.0 ELSE 0.0 END
                       + CASE WHEN x.j < 16 THEN 1.0 ELSE 0.0 END)
                     * x.cov * x.cov
                 END)), (a, b) -> a + b) AS fxy
           FROM one)
         SELECT nv.n_vecs, dd.d_full, CAST(16 AS BIGINT) AS d_prefix,
           fxx, fyy, fxy,
           round(CASE WHEN fxx <= 0.0 OR fyy <= 0.0 THEN NULL
             ELSE fxy / sqrt(fxx * fyy) END, 6) + 0.0 AS cka
         FROM fr, nv, dd""",

    "q224_ansari_bradley" ->
      """WITH li AS (
           SELECT CAST(l_quantity AS BIGINT) AS qty,
             l_returnflag = 'A' AS isa
           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
         bv AS (
           SELECT qty,
             CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
               AS ka,
             CAST(count(*) AS BIGINT) AS t
           FROM li GROUP BY 1),
         cu AS (
           SELECT qty, ka, t,
             CAST(sum(t) OVER (ORDER BY qty
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM bv),
         tot AS (
           SELECT CAST(sum(ka) AS BIGINT) AS n1,
             CAST(sum(t - ka) AS BIGINT) AS n2
           FROM bv),
         one AS (
           SELECT n1, n2,
             list({'qty': qty, 'ka': ka, 't': t, 'cum': cum}
               ORDER BY qty) AS cs
           FROM cu, tot GROUP BY n1, n2),
         cells AS (
           SELECT n1, n2,
             list_transform(cs, x -> {
               'ka': x.ka, 't': x.t,
               's': CAST(
                 CASE WHEN least(x.cum, (n1 + n2 + 1) // 2)
                        >= x.cum - x.t + 1
                   THEN ((x.cum - x.t + 1)
                     + least(x.cum, (n1 + n2 + 1) // 2))
                     * (least(x.cum, (n1 + n2 + 1) // 2)
                        - (x.cum - x.t + 1) + 1) // 2
                   ELSE 0 END
                 + CASE WHEN x.cum
                          >= greatest(x.cum - x.t + 1,
                               (n1 + n2 + 1) // 2 + 1)
                   THEN (n1 + n2 + 1)
                     * (x.cum - greatest(x.cum - x.t + 1,
                         (n1 + n2 + 1) // 2 + 1) + 1)
                     - (greatest(x.cum - x.t + 1,
                         (n1 + n2 + 1) // 2 + 1) + x.cum)
                       * (x.cum - greatest(x.cum - x.t + 1,
                           (n1 + n2 + 1) // 2 + 1) + 1) // 2
                   ELSE 0 END AS BIGINT)}) AS cells
           FROM one),
         folds AS (
           SELECT n1, n2,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cells, x ->
                 CAST(x.ka AS DOUBLE) * CAST(x.s AS DOUBLE)
                   / CAST(x.t AS DOUBLE))), (a, b) -> a + b) AS tstat,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(cells, x -> x.s)), (a, b) -> a + b)
               AS ssum,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cells, x ->
                 CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
                   / CAST(x.t AS DOUBLE))), (a, b) -> a + b) AS s2sum
           FROM cells),
         fin AS (
           SELECT n1, n2, tstat,
             CAST(n1 + n2 AS DOUBLE) AS nn,
             CAST(ssum AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS abar,
             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               * (s2sum - CAST(n1 + n2 AS DOUBLE)
                   * (CAST(ssum AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                   * (CAST(ssum AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))
               / (CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - 1.0)) AS v
           FROM folds)
         SELECT n1, n2, round(tstat, 4) + 0.0 AS ab_t,
           round(CASE WHEN v <= 0.0 THEN NULL
             ELSE (tstat - CAST(n1 AS DOUBLE) * abar) / sqrt(v)
             END, 4) + 0.0 AS z_stat
         FROM fin""",

    "ann_mmr" -> {
      def dotq(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, len($a) + 1),
               i -> $a[i] * $b[i])), (x, y) -> x + y)"""
      val dotd =
        """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(q_emb) + 1),
               i -> CAST(q_emb[i] AS DOUBLE)
                 * CAST(embedding[i] AS DOUBLE))), (x, y) -> x + y)"""
      val LMin = "CAST(-9223372036854775807 AS BIGINT)"
      s"""WITH q AS (
           SELECT vec_id AS q_id, embedding AS q_emb
           FROM embeddings
           WHERE vec_id % 100 = 0 AND vec_id < 100000),
         scored AS (
           SELECT q.q_id, e.vec_id, e.embedding, q.q_emb,
             $dotd AS dot
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.q_id),
         top AS (
           SELECT q_id, vec_id, embedding, q_emb,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
           FROM scored),
         cand AS (
           SELECT q_id, rank, vec_id,
             list_transform(embedding, v ->
               CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
               AS qe,
             list_transform(q_emb, v ->
               CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
               AS qqe
           FROM top WHERE rank <= 50),
         per AS (
           SELECT q_id, any_value(qqe) AS qqe,
             list({'rank': rank, 'vec_id': vec_id, 'qe': qe}
               ORDER BY rank) AS cands,
             CAST(count(*) AS BIGINT) AS n
           FROM cand GROUP BY q_id),
         mats AS (
           SELECT q_id, cands, n,
             list_transform(cands, c -> ${dotq("qqe", "c.qe")})
               AS rels,
             list_transform(cands, a -> list_transform(cands, b ->
               ${dotq("a.qe", "b.qe")})) AS simmat
           FROM per),
         sel AS (
           SELECT q_id, cands, rels,
             list_reduce(
               list_prepend(
                 CAST([] AS STRUCT(idx INTEGER, m BIGINT)[]),
                 list_transform(range(1,
                     CAST(least(10, n) AS INTEGER) + 1),
                   z -> CAST([] AS STRUCT(idx INTEGER, m BIGINT)[]))),
               (sel, z) -> list_append(sel,
                 list_transform([
                   list_reduce(list_prepend($LMin,
                     list_transform(range(1, CAST(n AS INTEGER) + 1),
                       i -> CASE WHEN len(list_filter(sel,
                           sl -> sl.idx = i)) > 0 THEN $LMin
                         ELSE (rels[i]
                           - CASE WHEN len(sel) = 0
                               THEN CAST(0 AS BIGINT)
                             ELSE list_reduce(list_prepend($LMin,
                               list_transform(sel,
                                 sl -> simmat[i][sl.idx])),
                               (mx, v) -> greatest(mx, v)) END
                           ) * 128 + (128 - i) END)),
                     (x, y) -> greatest(x, y))],
                   be -> {'idx': CAST(128 - ((be % 128 + 128) % 128)
                       AS INTEGER),
                     'm': (be - ((be % 128 + 128) % 128)) // 128})[1]))
               AS picks
           FROM mats)
         SELECT q_id, CAST(u.p AS BIGINT) AS mmr_rank,
           cands[picks[u.p].idx].vec_id AS vec_id,
           rels[picks[u.p].idx] AS rel_dot,
           picks[u.p].m AS mmr2
         FROM sel, unnest(range(1, len(picks) + 1)) AS u(p)
         ORDER BY q_id, mmr_rank"""
    },

    "pipeline_reweight_ess" ->
      """WITH per AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS g,
             CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) /
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(1.0 / CAST(n_docs AS DOUBLE) ORDER BY lang)),
                 (a, b) -> a + b) AS ess
           FROM per)
         SELECT lang, n_docs,
           round(CAST(nn AS DOUBLE) /
             (CAST(g AS DOUBLE) * CAST(n_docs AS DOUBLE)), 6) + 0.0
             AS weight,
           nn AS n_total, g AS n_langs,
           round(ess, 4) + 0.0 AS ess,
           round(ess / CAST(nn AS DOUBLE), 6) + 0.0 AS ess_ratio
         FROM per, tot
         ORDER BY lang""",

    "text_burrows_delta" ->
      """WITH tok AS (
           SELECT source,
             unnest(string_split_regex(lower(text), '\s+')) AS token
           FROM documents),
         top AS (
           SELECT token FROM (
             SELECT token, count(*) AS n FROM tok GROUP BY 1
             ORDER BY n DESC, token LIMIT 50)),
         srct AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_tok
           FROM tok GROUP BY 1),
         cells AS (
           SELECT t.source, t.token, CAST(count(*) AS BIGINT) AS k
           FROM tok t JOIN top ON top.token = t.token
           GROUP BY 1, 2),
         grid AS (
           SELECT s.source, tp.token,
             CAST(coalesce(c.k, 0) AS DOUBLE) * 1000.0
               / CAST(s.n_tok AS DOUBLE) AS f
           FROM srct s CROSS JOIN top tp
           LEFT JOIN cells c
             ON c.source = s.source AND c.token = tp.token),
         mom AS (
           SELECT token, CAST(count(*) AS BIGINT) AS ns,
             list({'source': source, 'f': f} ORDER BY source) AS sf
           FROM grid GROUP BY 1),
         mom2 AS (
           SELECT token, ns,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(sf, x -> x.f)), (a, b) -> a + b)
               / CAST(ns AS DOUBLE) AS mu, sf
           FROM mom),
         mom3 AS (
           SELECT token, mu,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(sf, x -> (x.f - mu) * (x.f - mu))),
               (a, b) -> a + b) / CAST(ns AS DOUBLE)) AS sd
           FROM mom2),
         z AS (
           SELECT g.source, g.token,
             CASE WHEN m.sd > 0.0 THEN (g.f - m.mu) / m.sd
               ELSE 0.0 END AS z
           FROM grid g JOIN mom3 m ON m.token = g.token),
         pairs AS (
           SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_words,
             list({'token': a.token, 'dz': abs(a.z - b.z)}
               ORDER BY a.token) AS ds
           FROM z a JOIN z b
             ON a.token = b.token AND a.source < b.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, n_words,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(ds, x -> x.dz)), (a, b) -> a + b)
             / CAST(n_words AS DOUBLE), 6) + 0.0 AS delta
         FROM pairs
         ORDER BY src_a, src_b""",

    "text_mattr" ->
      """WITH d AS (
           SELECT doc_id,
             string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks,
             CAST(len(toks) AS BIGINT) AS n
           FROM d)
         SELECT doc_id, n AS n_tokens,
           round(CASE WHEN n <= 0 THEN NULL
             WHEN n < 50 THEN
               CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(n AS DOUBLE)
             ELSE
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, CAST(n AS INTEGER) - 50 + 2),
                   i -> CAST(len(list_distinct(
                       toks[i:i + 49])) AS DOUBLE) / 50.0)),
                 (a, b) -> a + b)
               / CAST(n - 50 + 1 AS DOUBLE)
             END, 6) + 0.0 AS mattr
         FROM n
         ORDER BY doc_id""")

  /** The ann_mmr body, factored so the board entry (tierMod 100, the
    * ≤1000-query eval tier) and the Sf1Probe decade-3 capacity-rule tier
    * (tierMod 1000 — ≤100 queries, the single-box sf100 cut recorded
    * in the PLANS.md third-decade table) share one plan verbatim.
    */
  def mmrRerank(s: org.apache.spark.sql.SparkSession, d: String,
      tierMod: Int = 100): DataFrame = {
      import s.implicits._
      val e = Tables.load(s, d, "embeddings")
      val quant = "transform(%s, v -> " +
        "CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))"
      val q = e.filter(col("vec_id") % tierMod === 0 &&
          col("vec_id") < 100000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy(desc("dot"), $"vec_id")
      val cands = e.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"q_id")
        .withColumn("dot", graft.functions.VectorFunctions
          .dot_product($"q_emb", $"embedding"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 50)
        .select($"q_id", $"rank", $"vec_id",
          expr(quant.format("embedding")).as("qe"))
      val qq = q.select($"q_id", expr(quant.format("q_emb")).as("qqe"))
      val LMin = "-9223372036854775807L"
      def dotq(a: String, b: String) =
        s"aggregate(zip_with($a, $b, (u, v) -> u * v), 0L, (x, y) -> x + y)"
      val mats = cands.groupBy($"q_id")
        .agg(sort_array(collect_list(struct($"rank", $"vec_id", $"qe")))
          .as("cands"))
        .join(broadcast(qq), Seq("q_id"))
        .withColumn("n", size($"cands").cast("long"))
        .withColumn("rels", expr(
          s"transform(cands, c -> ${dotq("qqe", "c.qe")})"))
        .withColumn("simmat", expr(
          s"""transform(cands, a -> transform(cands, b ->
              ${dotq("a.qe", "b.qe")}))"""))
        // MATERIALIZATION BARRIER (measured hang without it):
        // CollapseProject inlines the rels/simmat aliases into the
        // greedy expression below, and element_at(<inlined
        // transform>, i) re-evaluates the WHOLE 50×50×64 matrix per
        // lambda invocation — the 10×50×10-deep fold turns O(n²·d)
        // into O(n³·k²·d) per query. The persist pins the computed
        // arrays as real columns (query-tier-sized: ≤1000 rows ×
        // ~20 KB); the greedy then reads them as attributes.
        .persist(StorageLevel.MEMORY_AND_DISK)
      mats
        .withColumn("sel", expr(
          s"""aggregate(sequence(1L, least(10L, n)),
               cast(array() as array<struct<idx: int, m: bigint>>),
               (sel, step) -> array_append(sel,
                 element_at(transform(array(
                   aggregate(sequence(1, cast(n as int)), $LMin,
                     (best, i) -> greatest(best,
                       CASE WHEN exists(sel, sl -> sl.idx = i)
                         THEN $LMin
                       ELSE (element_at(rels, i)
                         - CASE WHEN size(sel) = 0 THEN 0L
                           ELSE aggregate(transform(sel, sl ->
                               element_at(element_at(simmat, i),
                                 sl.idx)),
                             $LMin, (mx, v) -> greatest(mx, v)) END
                         ) * 128L + (128L - i) END))),
                   be -> named_struct(
                     'idx', CAST(128L - ((be % 128L + 128L) % 128L)
                       AS INT),
                     'm', (be - ((be % 128L + 128L) % 128L))
                       div 128L)), 1)))"""))
        .select($"q_id", $"cands", $"rels",
          posexplode($"sel").as(Seq("p", "s")))
        .select($"q_id", ($"p" + 1).cast("long").as("mmr_rank"),
          expr("element_at(cands, s.idx).vec_id").as("vec_id"),
          expr("element_at(rels, s.idx)").as("rel_dot"),
          $"s.m".as("mmr2"))
        .orderBy($"q_id", $"mmr_rank")
  }
}
