package graft.tools

import graft.{Sessions, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decade scale evidence: synthesize a 10× corpus from a smaller one
  * and time a heavy tier at both scales, reporting the growth exponent
  * e = log10(t_big / t_small) — a corpus-linear operator shows e ≈ 1,
  * a quadratic candidate stage shows e ≈ 2. Three decades stack on the
  * sf0.1 parquet corpus:
  *
  *   1  sf0.1 → sf1    (/tmp/graft-sf1,   token prefix c)
  *   2  sf1   → sf10   (/tmp/graft-sf10,  token prefix d; 60M lineitem)
  *   3  sf10  → sf100  (/tmp/graft-sf100, token prefix e; ~16 GB)
  *
  * Each decade reads the previous one's corpus, so decade 2 needs
  * decade 1 built first and decade 3 needs decade 2.
  *
  * Scaling discipline — the 10 copies are DISJOINT by construction,
  * exactly how TPC-H scales (row counts of part/supplier/customer/
  * orders all grow with SF):
  *   - every key column (order/part/supp/cust/user/event/doc/vec) is
  *     offset per copy by a power of ten above its max, so joins stay
  *     valid and the co-occurrence graph scales as 10 disjoint
  *     components instead of densifying artificially;
  *   - document text is injectively token-renamed per copy (`c{i}_`
  *     prefix): Jaccard/containment structure inside each copy is
  *     preserved (shingle sets transform injectively) while cross-copy
  *     shingles are disjoint — no artificial 10-way duplicate
  *     clusters that a real 10× corpus would not have;
  *   - embeddings get a per-copy deterministic coordinate sign-flip
  *     (an orthogonal transform: all intra-copy cosines/norms are
  *     EXACTLY preserved, cross-copy vectors decorrelate);
  *   - event timestamps are kept: 10× users in the same wall-clock
  *     window is how real traffic grows (session windows stay
  *     per-user-sized, there are just 10× more of them).
  *
  *   sbt "runMain graft.tools.Sf1Probe"               # decade 1: gen + probe
  *   sbt "runMain graft.tools.Sf1Probe regen genonly" # rebuild sf1 only
  *   sbt "runMain graft.tools.Sf1Probe 2 genonly"     # build sf10 only
  *   sbt "runMain graft.tools.Sf1Probe 3 only=emb_cka"
  *
  * Operational: never probe in the JVM that generated the corpus —
  * page-cache and heap pollution inflate the first walls. Run
  * `genonly`, then probe in a fresh invocation on an idle box.
  */
object Sf1Probe {

  type Query = (SparkSession, String) => DataFrame

  /** One decade: `src` scaled 10× into `dst`. `rows` is the timed
    * tier, `warm` the key run once at the small end first so the
    * first row is not a JIT probe.
    */
  final case class Decade(src: String, dst: String, prefix: String,
      small: String, big: String, warm: String,
      rows: Seq[(String, Query)])

  val srcDir = "/root/testdata/sf0.1"
  val copies = 10

  /** Decade 1's tier: the heavy keys from the round-8 clean re-runs
    * onward. The shared graph edge build is prepended as its own row
    * (the graph family reads it back).
    */
  private val heavy1: Seq[String] = Seq(
    "q62_pagerank", "q72_triangle_count", "q75_kcore",
    "q87_shortest_path", "q90_graph_profile", "q100_assortativity",
    "dedup_tfidf_cosine", "dedup_containment",
    "q52_session_window", "q10_distinct",
    // round-9 session-2 heavy tier
    "q138_hits", "ann_hybrid_rrf", "dedup_prefix_filter",
    "emb_dim_corr", "q101_label_propagation", "pipeline_dedup_sweep",
    // round-10: every remaining op with a join or explode in its hot
    // path gets a measured growth exponent (r9 verdict item #7)
    "q35_lateral", "text_lm_score", "q92_chi_square",
    "pipeline_split_leakage",
    // round-10 frontier heavy tier
    "q143_2hop_reach", "q144_adamic_adar", "ann_recall_curve",
    "q142_bootstrap_ci", "pipeline_contamination_ngram",
    "emb_power_iteration",
    // round-11: the batch-8 ops (shipped unprobed in r10 — verdict
    // item #4), including the three r11 scale fixes
    "q155_funnel_latency", "q156_hill_tail", "q157_rolling_corr",
    "q158_modularity", "pipeline_epoch_order", "emb_pc2",
    "text_zipf_rank_score", "mm_aspect_buckets",
    // round-11 batch 9 (probed in the same batch that adds them)
    "q159_markov_steady", "q160_entropy_rate", "pipeline_filter_sweep",
    // round-11 batch 10
    "emb_abtt", "emb_cluster_quality",
    // round-11 batch 11
    "text_dup_ngram_share", "mm_resolution_ladder",
    "q161_supplier_leadtime",
    // round-11 batch 12
    "q162_forecast_backtest", "pipeline_mix_realized",
    "text_source_purity",
    // round-11 batch 13
    "emb_pq_distortion", "q163_growth_accounting",
    // round-11 batch 14
    "q164_price_index", "pipeline_dedup_bias",
    // round-11 batch 15
    "q165_median_polish",
    // round-11 batch 16
    "q166_logrank_churn",
    // round-11 batch 17
    "text_hapax_ratio", "pipeline_seed_variance",
    // round-13 batches 5–6 (deferred to the r14 idle-box session)
    // + the r13-close/r14 registrations
    "q174_jarque_bera", "q175_partial_corr", "q176_durbin_watson",
    "q177_cohens_kappa", "emb_hubness", "text_simpson_diversity",
    "q178_kruskal_wallis", "q179_weekday_anova", "q180_cusum_ivm",
    // round-14 batch 4 (probed in the registering session)
    "q181_levene_bf", "q182_welch_anova", "q183_friedman",
    // round-15: the q184/q185 streaming parity rows + batch 1
    "q184_lateness_ivm", "q185_topk_ivm", "q186_decontam_ivm",
    "q187_ljung_box", "q188_mood_median", "q189_cramers_v",
    "q190_page_hinkley",
    // round-15 batch 2
    "q191_tukey_hsd", "q192_bartlett", "q193_grubbs_outlier",
    "q194_cochran_armitage")

  /** Decade 2's tier: every op whose 100× claim rested on one
    * measured decade.
    */
  private val heavy2: Seq[String] = Seq(
    "q158_modularity", "q138_hits", "ann_hybrid_rrf",
    "emb_effective_dim", "emb_dim_corr",
    // round-15 (r14 verdict item #4): every >40 cpu-s family gets a
    // measured second decade — the dedup blocking tier, the sweep
    // that composes it, and the pagerank representative of the graph
    // family's cheap half
    "dedup_prefix_filter", "dedup_tfidf_cosine", "dedup_containment",
    "pipeline_dedup_sweep", "q62_pagerank",
    // round-16: one representative per new family shape — the
    // PrefixSum support-CDF scaffold (domain-bounded support is the
    // scale claim), the 4×-exploded eval-tier brute force, the
    // seed-biased graph loop, and the row-local scramble layout
    "q203_wasserstein", "emb_matryoshka_eval", "q213_ppr",
    "pipeline_span_corruption",
    // round-17 (r16 verdict item #7): the r16 top-cpu keys under
    // load. ann_hybrid_rrf's r14 row predates the fixed ≤1000-query
    // eval tier, so its current shape needed a fresh second decade;
    // emb_abtt had only the first decade on record
    "emb_abtt",
    // round-17 batch shapes: the capped-tier greedy rerank (scan-
    // bound claim) and the d²-panel covariance CKA (corpus passes
    // amortize into fixed d-bounded work)
    "ann_mmr", "emb_cka")

  /** Decade 3's tier: the board's cpu cost leader, the dedup family's
    * designed-linear representative, and the ANN family's production
    * path. The brute-force eval tiers (ann_mmr, ann_hybrid_rrf's dense
    * ranker) are deliberately NOT here: their per-query top-k sort
    * spills ∝ corpus × queries ≈ 48 GB at sf100 (the first probe run
    * died SPILL_OUT_OF_MEMORY on ann_mmr's stage) — they run under
    * the capacity rule in [[bruteCap]] instead.
    */
  private val heavy3: Seq[String] = Seq(
    "emb_cka", "dedup_tfidf_cosine", "ann_lsh")

  /** The brute eval tiers under their written capacity rule: cut the
    * truth tier to ≤100 queries — tierMod 1000 IS that cut, the same
    * plan verbatim at a 10×-smaller query panel. Both ends of decade 3
    * run the capped tier, so the growth exponent is like-for-like.
    */
  val bruteCap: Seq[(String, Query)] = Seq(
    "ann_mmr[q<=100]" ->
      ((s: SparkSession, d: String) =>
        graft.queries.Frontier9.mmrRerank(s, d, tierMod = 1000)),
    "ann_hybrid_rrf[q<=100]" ->
      ((s: SparkSession, d: String) =>
        graft.sim.Similarity.hybridRrf(s, d, k = 10, tierMod = 1000)))

  private def registry(names: Seq[String]): Seq[(String, Query)] =
    names.map(n => n -> SparkEntry.queries(n))

  lazy val decades: Map[Int, Decade] = Map(
    1 -> Decade(srcDir, "/tmp/graft-sf1", "c",
      "sf0.1", "sf1", "dedup_containment",
      ("graph_edge_build",
        (s: SparkSession, d: String) =>
          graft.queries.Graph.coOccurrencePairCounts(s, d)) +:
        registry(heavy1)),
    2 -> Decade("/tmp/graft-sf1", "/tmp/graft-sf10", "d",
      "sf1", "sf10", "emb_dim_corr", registry(heavy2)),
    3 -> Decade("/tmp/graft-sf10", "/tmp/graft-sf100", "e",
      "sf10", "sf100", "emb_dim_corr", registry(heavy3) ++ bruteCap))

  private def pow10Above(maxKey: Long): Long = {
    var p = 1L
    while (p <= maxKey) p *= 10
    p
  }

  /** Union `copies` key-offset (and where needed content-renamed)
    * copies of every table of `srcDir` into `dstDir`. The
    * `tokenPrefix` must differ per decade (c → d → e) so the per-copy
    * token renames stay injective when applied to already-renamed
    * text, and it salts the embedding sign-flip so a decade's copies
    * decorrelate from the previous decades'.
    */
  def generate(spark: SparkSession, srcDir: String, dstDir: String,
      tokenPrefix: String): Unit = {
    import spark.implicits._

    def maxOf(t: String, c: String): Long =
      Tables.load(spark, srcDir, t).agg(max(col(c))).as[Long].first()

    val kOrder = pow10Above(maxOf("orders", "o_orderkey"))
    val kCust = pow10Above(maxOf("customer", "c_custkey"))
    val kPart = pow10Above(maxOf("part", "p_partkey"))
    val kSupp = pow10Above(maxOf("supplier", "s_suppkey"))
    val kEvent = pow10Above(maxOf("events", "event_id"))
    val kUser = pow10Above(maxOf("events", "user_id"))
    val kDoc = pow10Above(maxOf("documents", "doc_id"))
    val kVec = pow10Above(maxOf("embeddings", "vec_id"))

    // per-table: which long columns shift by which stride; plus an
    // optional per-copy content transform
    def scaled(table: String, shifts: Map[String, Long],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame = {
      val base = Tables.load(spark, srcDir, table)
      (0 until copies).map { i =>
        val shifted = shifts.foldLeft(base) { case (d, (c, k)) =>
          d.withColumn(c, col(c) + lit(i.toLong * k))
        }
        perCopy(shifted, i)
      }.reduce(_ unionByName _)
    }

    val out: Map[String, DataFrame] = Map(
      "region" -> Tables.load(spark, srcDir, "region"),
      "nation" -> Tables.load(spark, srcDir, "nation"),
      "customer" -> scaled("customer", Map("c_custkey" -> kCust)),
      "supplier" -> scaled("supplier", Map("s_suppkey" -> kSupp)),
      "part" -> scaled("part", Map("p_partkey" -> kPart)),
      "orders" -> scaled("orders",
        Map("o_orderkey" -> kOrder, "o_custkey" -> kCust)),
      "lineitem" -> scaled("lineitem",
        Map("l_orderkey" -> kOrder, "l_partkey" -> kPart,
          "l_suppkey" -> kSupp)),
      "events" -> scaled("events",
        Map("event_id" -> kEvent, "user_id" -> kUser)),
      "documents" -> scaled("documents", Map("doc_id" -> kDoc),
        (d, i) =>
          if (i == 0) d
          else d
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)",
                s"$tokenPrefix${i}_$$1"))
            .withColumn("n_chars", length(col("text")).cast("long"))),
      "embeddings" -> scaled("embeddings", Map("vec_id" -> kVec),
        (d, i) =>
          if (i == 0) d
          else d.withColumn("embedding",
            // sf1 keeps its original unsalted flip so the corpus on
            // disk stays byte-reproducible; later decades salt by
            // prefix so their flips differ from sf1's
            expr(s"transform(embedding, (x, j) -> " +
              (if (tokenPrefix == "c")
                s"CASE WHEN pmod(hash($i, j), 2) = 0 "
              else
                s"CASE WHEN pmod(hash('$tokenPrefix', $i, j), 2) = 0 ") +
              s"THEN x ELSE -x END)"))))

    out.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[scale] wrote $dstDir/$name")
    }
  }

  private def marker(dir: String) = new java.io.File(s"$dir/.graft-complete")

  /** Arguments, in any order: the decade (1, 2 or 3; default 1),
    * `regen` to rebuild the corpus, `genonly` to build it and exit,
    * `only=a,b` to time a subset of the tier.
    */
  def main(args: Array[String]): Unit = {
    val n = args.collectFirst {
      case a if a.nonEmpty && a.forall(_.isDigit) => a.toInt
    }.getOrElse(1)
    val dec = decades.getOrElse(n, throw new IllegalArgumentException(
      s"decade $n: expected one of ${decades.keys.toSeq.sorted.mkString(", ")}"))
    require(n == 1 || marker(dec.src).exists(),
      s"run graft.tools.Sf1Probe ${n - 1} genonly first to build ${dec.src}")
    val spark = Sessions.start(32)

    if (args.contains("regen") || !marker(dec.dst).exists()) {
      generate(spark, dec.src, dec.dst, dec.prefix)
      marker(dec.dst).createNewFile()
    }
    // `genonly`: build (or confirm) the corpus and exit — the sf1
    // oracle-gate session wants the corpus without re-running the
    // timing tier (timing needs an idle box; the gate does not)
    if (args.contains("genonly")) { spark.stop(); return }

    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // same pruning-proof sink as Bench: force the full projection
    def time(df: => DataFrame): (Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      df.agg(bit_xor(xxhash64(struct(col("*"))))).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      spark.catalog.clearCache()
      (wall, cpu)
    }

    // warm-up both directories: footers, file indexes, codegen
    Seq(dec.src, dec.dst).foreach { d =>
      Tables.names.foreach(t => Tables.load(spark, d, t).count())
    }
    // warm the kernels once so the small end's first query is not a
    // JIT probe
    time(SparkEntry.queries(dec.warm)(spark, dec.src))

    // dev knob: `only=a,b` probes a subset while iterating on one
    // operator's growth exponent
    val only = args.collectFirst {
      case a if a.startsWith("only=") =>
        a.stripPrefix("only=").split(",").map(_.trim).toSet
    }
    val (sm, bg) = (dec.small, dec.big)
    println(s"| query | $sm wall | $bg wall | growth exp | $sm cpu | $bg cpu |")
    println("|---|---|---|---|---|---|")
    dec.rows.filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val (w0, c0) = time(fn(spark, dec.src))
        val (w1, c1) = time(fn(spark, dec.dst))
        val e = math.log10(w1 / w0)
        println(f"| $name | $w0%.2f s | $w1%.2f s | $e%.2f | $c0%.1f | $c1%.1f |")
      }
    spark.stop()
  }
}
