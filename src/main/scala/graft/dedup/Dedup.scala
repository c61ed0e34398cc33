package graft.dedup

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication over `documents` (and
  * embedding near-dup over `embeddings`). North-star extension ops —
  * the reference has no dedup (SURVEY.md §2b); designs follow the
  * standard MinHash/SimHash literature (Broder 1997; Charikar 2002).
  *
  * Scale notes (the part that matters at 100 TB):
  *  - Nothing here is all-pairs over the corpus. Candidate generation
  *    is always *blocked* — exact-hash buckets, LSH band buckets, or
  *    SimHash band buckets — so the shuffle key is the bucket id and
  *    pair expansion happens only within buckets.
  *  - Exact dedup is a single hash-shuffle groupBy (map-side partial
  *    aggregation applies).
  *  - Shingles and MinHash signatures are computed row-local by
  *    native codegen expressions (graft.functions.ShingleHashes /
  *    MinHashSignature) — one pass over the text where the document
  *    already lives, no explode and no shuffle before banding.
  *
  * Cache lifecycle: several pipelines persist an intermediate frame
  * (signature/shingle tables) that multiple branches of the RETURNED
  * lazy plan re-read — unpersisting inside the builder would recompute
  * the expensive stage per branch on the caller's first action, so the
  * cache intentionally outlives the call. Callers running many queries
  * in one session must release between them (`spark.catalog
  * .clearCache()` — the Bench and Verify harnesses both do); a
  * long-lived session that skips this degrades gracefully via LRU
  * eviction of MEMORY_AND_DISK blocks, it does not OOM. Sites:
  * ngramJaccardPairs, minhashLshOver, minhashIncrementalOver,
  * simhashOver, embeddingLshCandidates, connectedComponents,
  * Pipeline.trainingPrepV2, pipeline_decontaminate.
  */
object Dedup {

  /** Whitespace tokens of lowercased text. */
  private def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Exact token-set Jaccard between two pre-distinct arrays via the
    * inclusion-exclusion identity |A∪B| = |A|+|B|-|A∩B| — one
    * array_intersect per pair instead of intersect+union (union cost
    * equals a second intersect; this halved the sf0.1 query time).
    * Integer identity → bit-identical doubles to the |A∩B|/|A∪B|
    * oracle formulation.
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") /
      (size(a) + size(b) - inter).cast("double")
  }

  /** documents with hashed shingle sets and a cheap blocking key:
    * language + length bucket. At 100 TB, blocking bounds candidate
    * pairs to within-block quadratic instead of corpus quadratic.
    *
    * `shh` is the 60-bit packed polynomial hash of each distinct
    * shingle (graft.functions.PolyHash): set intersections per
    * candidate pair then compare longs instead of re-hashing ~25-char
    * strings — measured ~2× on the pair stage. Cardinalities (and
    * therefore Jaccard values) are unchanged short of a 60-bit
    * collision (~1e-13/pair), so DuckDB oracles over the string
    * shingles stay hash-exact — and since round 8 the hash itself
    * replays in SQL, so the banded MinHash pipelines are
    * hash-verified too.
    */
  private[dedup] def docsWithShingles(s: SparkSession, d: String)
      : DataFrame =
    // conditional spread: locally the table is one parquet split and
    // the per-doc shingle stage would run on ONE core; at 100 TB the
    // scan already has thousands of splits and no exchange is inserted
    // (Tables.spread skips it).
    shingleBlocks(Tables.spread(Tables.load(s, d, "documents")))

  /** (doc_id, block, shh) from any documents-shaped frame — the
    * shared shingle+block projection (native one-pass shingle
    * expression; the declarative HOF chain below — tokenHashes/
    * hashedShingles — is its bit-identical twin, kept for the parity
    * spec and planted-corpus fixtures). Partitioning is the caller's
    * concern.
    */
  def shingleBlocks(df: DataFrame): DataFrame =
    df.withColumn("shh",
        graft.functions.ShingleFunctions.shingle_hashes(col("text")))
      .withColumn("block", concat_ws("#", col("lang"),
        floor(col("n_chars") / 100).cast("long")))
      .select(col("doc_id"), col("block"), col("shh"))

  /** Per-token 60-bit packed polynomial hash (PolyHash.tokenHash64 as
    * a Column: two RollingHash folds packed `h31 << 31 | h37`).
    * Materialize this as its own column BEFORE building shingles: the
    * shingle lambda references it three times, and an inlined
    * (collapsed) projection would re-run the whole token-hash
    * transform per reference.
    */
  def tokenHashes(toks: Column): Column = {
    import graft.functions.RollingHash.rolling_hash
    transform(toks, t =>
      rolling_hash(t, 31L) * lit(2147483648L) + rolling_hash(t, 37L))
  }

  /** Distinct word-3-gram shingle hashes, combined directly from the
    * materialized token hashes (PolyHash.shingleHash in Column
    * arithmetic: two seeded folds mod M packed `s1·M + s2`) — no
    * shingle *strings* are ever built (the interpreted
    * concat-per-shingle was ~6× the cost of the whole rest of the
    * MinHash pipeline at sf0.1).
    */
  def hashedShingles(th: Column): Column = {
    val M = lit(graft.functions.PolyHash.M)
    def fold(b: Long, h1: Column, h2: Column, h3: Column): Column = {
      val bl = lit(b)
      (((lit(7L) * bl + h1) % M * bl + h2) % M * bl + h3) % M
    }
    def shingle(h1: Column, h2: Column, h3: Column): Column =
      fold(graft.functions.PolyHash.B1, h1, h2, h3) * M +
        fold(graft.functions.PolyHash.B2, h1, h2, h3)
    when(size(th) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(th) - 2),
        i => shingle(element_at(th, i), element_at(th, i + 1),
          element_at(th, i + 2)))))
      .otherwise(array().cast("array<bigint>"))
  }

  // ------------------------------------------------------------ exact
  /** Exact dedup: hash-groupBy on content digest. One shuffle, partial
    * aggregation map-side; at scale, group on the digest (not the full
    * text) so shuffle rows stay small.
    */
  def exact(s: SparkSession, d: String): DataFrame =
    exactOver(Tables.load(s, d, "documents"))

  def exactOver(df: DataFrame): DataFrame = {
    df.groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("content_md5"))
  }

  // ------------------------------------------- n-gram Jaccard (blocked)
  /** Near-dup by word-3-gram Jaccard within (lang, length-bucket)
    * blocks: self-join on the block key (shuffle is on the block key;
    * pair expansion only within blocks), then exact Jaccard on distinct
    * shingle sets.
    */
  def ngramJaccard(s: SparkSession, d: String, threshold: Double = 0.05)
      : DataFrame = ngramJaccardOver(docsWithShingles(s, d), threshold)

  def ngramJaccardOver(docs0: DataFrame, threshold: Double): DataFrame =
    // the global sort exists only for oracle-deterministic output;
    // pipeline stages (connected components, trainingPrepV2) consume
    // the unsorted pairs — persisting a range-shuffled sort the next
    // stage immediately re-shuffles away would be pure waste
    ngramJaccardPairs(docs0, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  // ------------------------------------------ containment (doc-in-doc)
  /** Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| — the
    * quote/subset detector Jaccard misses (a short doc fully embedded
    * in a long one has high containment but low Jaccard, and
    * ngramJaccard's length-bucket blocking would never even pair
    * them). Blocking is by RARE SHINGLE — the inverted-index
    * strategy: a candidate pair must share at least one shingle with
    * corpus occurrence ≤ maxOcc. That cap bounds fan-out (one rare
    * shingle yields ≤ maxOcc² pairs; posting lists of ubiquitous
    * shingles never expand) and is semantically the right candidate
    * set — a pair sharing ONLY ubiquitous shingles is boilerplate
    * overlap, not containment. Candidates must share ≥ `minRareShared`
    * rare shingles (measured: one-shared-shingle pairs were 95% of
    * 1.1M candidates at sf0.1 and produced none of the 256 results —
    * a real containment relationship shares rare shingles in bulk);
    * exact containment then verifies on the full shingle sets, both
    * directions per unordered pair.
    */
  def containmentPairs(s: SparkSession, d: String,
      threshold: Double = 0.5, maxOcc: Long = 20,
      minRareShared: Long = 2): DataFrame =
    containmentPairsOver(Tables.spread(Tables.load(s, d, "documents")),
      threshold, maxOcc, minRareShared)

  def containmentPairsOver(docs0: DataFrame, threshold: Double = 0.5,
      maxOcc: Long = 20, minRareShared: Long = 2): DataFrame = {
    // native one-pass shingle expression — the interpreted
    // tokenHashes/hashedShingles twin costs 13 s of the query's 15 s
    // at sf0.1 (it exists for parity specs, not hot paths)
    val docs = docs0
      .withColumn("shh",
        graft.functions.ShingleFunctions.shingle_hashes(col("text")))
      .filter(size(col("shh")) > 0)
      .select(col("doc_id"), col("shh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager fill (r20, the kmv discipline): the final job reads docs
    // from FIVE concurrent leaves (rare's posting scan, both rp
    // sides, both verification joins) — persisted but unfilled they
    // raced to run the shingle kernel (the query's expensive stage)
    // repeatedly
    docs.count()
    val posting = docs.select(col("doc_id"), explode(col("shh")).as("sh"))
    val rare = posting.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2 && col("occ") <= maxOcc)
      .select(col("sh"))
    // persist + eager fill (r20, guide §1.2 "don't compute twice"):
    // rp feeds BOTH candidate self-join sides — unpersisted, each
    // side re-ran the posting explode, the rare groupBy AND the join.
    // The cached frame is occurrence-capped (occ ≤ maxOcc per
    // shingle), so it is posting-bounded, never quadratic.
    val rp = posting.join(rare, Seq("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rp.count()
    val cand = rp.select(col("sh"), col("doc_id").as("doc_a"))
      .join(rp.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minRareShared)
      .select(col("doc_a"), col("doc_b"))
    val inter = size(array_intersect(col("sha"), col("shb")))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("shh").as("sha")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("shh").as("shb")),
        Seq("doc_b"))
      .withColumn("cont_a_in_b",
        inter.cast("double") / size(col("sha")).cast("double"))
      .withColumn("cont_b_in_a",
        inter.cast("double") / size(col("shb")).cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"),
        col("cont_b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------- edit-distance fuzzy match
  /** Near-identical pairs by bounded edit distance on a 60-char prefix
    * within (lang, length-bucket) blocks — the "typo-level" tier below
    * ngram Jaccard: catches small in-place edits (OCR noise, encoding
    * jitter) with an exact, explainable distance where the set-based
    * measures see only token churn. Cost is bounded twice over: the
    * block cap bounds the pair count (never corpus-quadratic — same
    * trade as ngramJaccard, PLANS.md) and the prefix cap bounds the
    * per-pair DP at O(60²); the threshold form of levenshtein
    * additionally early-exits the DP band once the budget is blown
    * (returns −1, filtered like the oracle's dist ≤ max). Integer
    * distance → oracle-exact.
    */
  def fuzzyEditPairs(s: SparkSession, d: String, maxDist: Int = 10)
      : DataFrame = {
    // both self-join sides read the same projection; persist so the
    // scan+substring runs once (ngramJaccardPairs reasoning). spread:
    // the broadcast self-join inherits the stream side's partitioning,
    // so an un-spread single-split local scan would run every banded
    // DP on ONE core (measured 4.4 s → sub-second at sf0.1)
    val docs = Tables.spread(Tables.load(s, d, "documents"))
      .select(col("doc_id"),
        concat_ws("#", col("lang"),
          floor(col("n_chars") / 100).cast("long")).as("block"),
        substring(col("text"), 1, 60).as("prefix"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = docs.select(col("doc_id").as("doc_a"), col("block"),
      col("prefix").as("pa"))
    val b = docs.select(col("doc_id").as("doc_b"), col("block"),
      col("prefix").as("pb"))
    a.join(b, Seq("block")).filter(col("doc_a") < col("doc_b"))
      // levenshtein ≥ |len(a) − len(b)|: the length gate prunes pairs
      // BEFORE the O(60·maxDist) DP ever runs — pure pruning, the
      // result set is unchanged (so the oracle needs no mirror)
      .filter(abs(length(col("pa")) - length(col("pb"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------ sorted-neighborhood blocking
  /** Sorted-neighborhood near-dup detection (Hernández & Stolfo 1995,
    * the merge/purge method): sort the corpus on a normalized sort
    * key — the first 24 chars of whitespace-collapsed lowercased
    * text — slide a fixed window over the sorted order, and verify
    * only pairs within `window` positions of each other. This is the
    * blocking tier the (lang, length-bucket) blocks can miss: an edit
    * that moves a doc across a length-bucket boundary hides it from
    * ngramJaccard's blocks, but prefix-similar docs still sort
    * adjacent here.
    *
    * Scale shape: the global rank is ops.PrefixSum's two-pass
    * distributed scan (range shuffle + per-partition offsets — never
    * a single-task window); pair generation explodes each row into
    * its next `window-1` rank slots and equi-joins back on rank, so
    * the candidate count is exactly |corpus|·(window−1) — LINEAR in
    * the corpus no matter how skewed the key distribution is (the
    * property block-based methods lose when a block goes hot). The
    * trade, documented since the original paper: recall depends on
    * the sort key, so production runs multi-pass with rotated keys;
    * this single-pass form is one such pass.
    */
  def sortedNeighborhood(s: SparkSession, d: String, window: Int = 5,
      threshold: Double = 0.05): DataFrame =
    sortedNeighborhoodOver(Tables.spread(Tables.load(s, d, "documents")),
      window, threshold)

  /** Same pipeline over any documents-shaped frame — spec fixtures. */
  def sortedNeighborhoodOver(docs0: DataFrame, window: Int = 5,
      threshold: Double = 0.05): DataFrame = {
    val sh = shingleBlocks(docs0).select(col("doc_id"), col("shh"))
    val keyed = docs0
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 24)
          .as("snkey"))
    // rank + shingles ride one persisted frame: both the probe side
    // and the build side of the rank equi-join read it, and PrefixSum
    // already persisted the range-sorted input underneath
    val ranked = graft.ops.PrefixSum
      .runningTotal(keyed, Seq(col("snkey"), col("doc_id")), lit(1L), "rn")
      .join(sh, Seq("doc_id"))
      .select(col("rn"), col("doc_id"), col("shh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = ranked
      .select(explode(sequence(col("rn") + 1, col("rn") + (window - 1)))
          .as("rn_b"),
        col("doc_id").as("id_a"), col("shh").as("sh_a"))
    probes
      .join(ranked.select(col("rn").as("rn_b"), col("doc_id").as("id_b"),
        col("shh").as("sh_b")), Seq("rn_b"))
      // empty-shingle docs occupy window slots (they push neighbors
      // apart — part of SNM's semantics) but cannot near-dup; filter
      // at verification, where jaccard would 0/0-throw under ANSI
      .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --------------------------------------------- TF-IDF cosine pairs
  /** Weighted lexical near-dup by TF-IDF cosine over word-3-gram
    * terms — the bag-of-shingles tier between token-set Jaccard
    * (which ignores term counts and rarity) and embedding cosine
    * (which needs a model). Rare shared shingles count for more than
    * common ones, so boilerplate overlap scores lower than genuinely
    * shared content at the same intersection size.
    *
    * Engine-exact by integer quantization (the emb_* discipline):
    * idf_q = least(floor(N·10/df), 100000) — an integer-ratio idf,
    * monotone in the textbook ln(N/df) and chosen over it so both
    * engines evaluate the identical grid (the floor rides a ≤2^53-
    * exact double quotient, the q62 lesson); w_q = min(tf,255)·idf_q.
    * Dots and norms are then order-free exact long sums; cosine
    * touches doubles exactly three times (two correctly-rounded
    * sqrts, one divide) — hash-identical across engines. The idf cap
    * also bounds w_q so norm sums stay inside a long at any corpus
    * size (≾6.5e18 worst-case; ANSI sum would throw, not wrap, if a
    * pathological doc ever crossed it).
    *
    * Scale shape: TERM-CENTRIC pair generation, not a posting
    * self-join. Terms with df > maxDf are dropped from the VOCABULARY
    * (classic df pruning — weights and norms change identically on
    * both engines), so each surviving term's posting list fits an
    * array (≤ maxDf entries). One groupBy(term) builds those arrays,
    * and the a<b pair products expand INSIDE the codegen stage (the
    * q72 comprehension trick) — where the naive form shuffles the
    * weighted postings twice and hash-probes every candidate pair
    * into existence, this ships the posting frame through exactly one
    * term-keyed exchange and bounds fan-out at df·(df−1)/2 ≤ maxDf²/2
    * per term: a stopword-tier shingle never generates pairs.
    * (Measured at sf0.1: 6.1 s → ~3 s for the identical result.)
    */
  def tfidfCosinePairs(s: SparkSession, d: String, maxDf: Long = 50,
      threshold: Double = 0.2): DataFrame =
    tfidfCosinePairsOver(Tables.spread(Tables.load(s, d, "documents")),
      maxDf, threshold)

  /** Blocking-efficiency report: for each candidate-generation
    * strategy, how many pairs would actually be compared vs the n²/2
    * all-pairs baseline — the capacity-planning read BEFORE a 100 TB
    * dedup run (dedup_lsh_eval certifies recall; this certifies
    * COST). Unit sizes come from one aggregate per strategy
    * (lang·length blocks; rare-shingle posting lists at the
    * containment generator's 2..20 occupancy window); candidate
    * counts are exact Σ b·(b−1)/2 longs, the reduction ratio a single
    * display divide. A strategy whose max unit approaches the corpus
    * is a broken blocker — visible here as reduction → 1.
    */
  def blockingReport(s: SparkSession, d: String): DataFrame = {
    val docs = docsWithShingles(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRow = docs.agg(count(lit(1)).as("n_docs"))
    def finish(df: DataFrame, name: String): DataFrame =
      df.crossJoin(broadcast(nRow))
        .select(lit(name).as("strategy"), col("n_units"),
          col("max_unit"), col("candidate_pairs"),
          round(col("candidate_pairs").cast("double") /
            expr("CAST(n_docs * (n_docs - 1) div 2 AS DOUBLE)"), 8)
            .as("reduction"))
    val allPairs = finish(nRow.select(lit(1L).as("n_units"),
      col("n_docs").as("max_unit"),
      expr("n_docs * (n_docs - 1) div 2").as("candidate_pairs")),
      "0_all_pairs")
    val blocks = finish(docs.groupBy(col("block"))
      .agg(count(lit(1)).as("b"))
      .agg(count(lit(1)).as("n_units"), max(col("b")).as("max_unit"),
        sum(expr("b * (b - 1) div 2")).as("candidate_pairs")),
      "1_lang_length_block")
    val rare = finish(docs
      .select(col("doc_id"), explode(col("shh")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= 20)
      .agg(count(lit(1)).as("n_units"), max(col("c")).as("max_unit"),
        sum(expr("c * (c - 1) div 2")).as("candidate_pairs")),
      "2_rare_shingle")
    allPairs.unionAll(blocks).unionAll(rare).orderBy(col("strategy"))
  }

  // --------------------------------- prefix-filtering (AllPairs/PPJoin)
  /** Set-similarity self-join by PREFIX FILTERING (Bayardo et al.
    * 2007 "Scaling Up All Pairs", Xiao et al. 2008 PPJoin) — the
    * classic LOSSLESS candidate generator for threshold Jaccard,
    * completing the blocking-tier family: sorted-neighborhood
    * (rank-window), rare-shingle (occurrence-capped, lossy-bounded),
    * MinHash banding (probabilistic), and now prefix filtering
    * (exact-threshold, zero false negatives by construction).
    *
    * The guarantee: order every doc's shingle set by a global
    * canonical order (df ASC, shingle ASC — rarest first) and keep
    * the first |x| − ⌈t·|x|⌉ + 1 as its PREFIX. Two sets with
    * J ≥ t overlap in ≥ ⌈t·|x|⌉ elements, so by pigeonhole their
    * prefixes must share ≥ 1 element — joining on prefix shingles
    * finds every qualifying pair. Because the canonical order puts
    * RARE shingles in prefixes, the join's block keys are the
    * shortest posting lists in the corpus — the same physical
    * blocking as containment's rare-shingle trick, but with a
    * lossless-threshold proof instead of an occurrence cap.
    *
    * 100 TB shape: one distinct-posting shuffle for df, one
    * token-keyed join to rank, one groupBy(doc) to sort, prefix
    * explode ≈ half the posting volume, and the candidate self-join
    * keys on rare shingles (singleton posting lists dominate —
    * measured: the t=0.5 candidate set at sf0.1 is within 2× of the
    * final pair count). The length filter (2·min ≥ max for t=0.5)
    * prunes cross-size candidates before verification; verification
    * touches candidate pairs only. All-integer output (n_inter,
    * n_union) — the threshold test is 2·inter ≥ union, no float
    * anywhere.
    */
  /** CALLER CONTRACT (cache lifecycle, ADVICE r19): like every
    * multi-consumer generator in this file, the pipeline persists
    * two bounded intermediates (the shingled docs and the
    * canonically-sorted frame) and does NOT unpersist them — the
    * repo-wide discipline is that the session owner clears the cache
    * between queries (Bench/Verify run spark.catalog.clearCache()
    * after every key). A long-lived session embedding this operator
    * must do the same or cached shingle corpora accumulate.
    */
  def prefixFilterPairs(s: SparkSession, d: String): DataFrame =
    prefixFilterPairsOver(docsWithShingles(s, d))

  /** Same pipeline over any (doc_id, shh) frame (t = 1/2 as exact
    * integer arithmetic; prefix length = l − ⌈l/2⌉ + 1). Runs on the
    * HASHED shingle sets (the oracle-replayable PolyHash machinery
    * every other shingle op shares): the canonical order is (df ASC,
    * hash ASC) — losslessness holds for ANY global total order, so
    * ordering by hashed shingles keeps the guarantee while every
    * join, sort, and intersect stays on longs (the string-shingle
    * first cut spent 15.8 s at sf0.1 carrying 3-gram strings through
    * the df join; hashed, 4.2 s).
    */
  def prefixFilterPairsOver(docs0: DataFrame): DataFrame = {
    // persist + eager materialize (r19, guide §1.2 "don't compute
    // twice"): `posting` below has TWO consumers — the df aggregate
    // and the rank join — and they are independent leaf stages of one
    // job, so without the persist the scan+shingle kernel (the
    // query's expensive stage) ran twice, and without the eager count
    // the two stages raced to fill the same cold cache (the
    // pipeline_kmv_overlap finding). Same multi-consumer discipline
    // as ngramJaccardPairs/containmentPairsOver/minhashLshOver; the
    // cached frame is (doc_id, hashed-shingle array) — no text.
    val docs = docs0
      .filter(size(col("shh")) > 0)
      .select(col("doc_id"), col("shh").as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val posting = docs.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dft = posting.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // canonical order materialized per doc: shingles sorted (df ASC,
    // shingle ASC). Feeds the prefix explode AND both verification
    // joins — persist (the tfidf/minhash multi-consumer discipline).
    val sorted = posting.join(dft, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("tok"))).as("dt"))
      .select(col("doc_id"),
        expr("transform(sort_array(dt), x -> x.tok)").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pre = sorted.select(col("doc_id"),
        size(col("toks")).cast("long").as("l"),
        explode(slice(col("toks"), lit(1),
          expr("size(toks) - ((size(toks) + 1) div 2) + 1"))).as("tok"))
    val cand = pre.select(col("tok"), col("doc_id").as("doc_a"),
        col("l").as("la"))
      .join(pre.select(col("tok"), col("doc_id").as("doc_b"),
        col("l").as("lb")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("la"), col("lb")) * 2 >= greatest(col("la"), col("lb")))
      .select(col("doc_a"), col("doc_b")).distinct()
    val inter = size(array_intersect(col("ta"), col("tb"))).cast("long")
    cand
      .join(sorted.select(col("doc_id").as("doc_a"), col("toks").as("ta")),
        Seq("doc_a"))
      .join(sorted.select(col("doc_id").as("doc_b"), col("toks").as("tb")),
        Seq("doc_b"))
      .withColumn("n_inter", inter)
      .withColumn("n_union",
        size(col("ta")).cast("long") + size(col("tb")).cast("long")
          - col("n_inter"))
      .filter(col("n_inter") * 2 >= col("n_union"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** TF-IDF term-weight table (term → [(doc_id, wq)]) shared by the
    * near-dup cosine join AND the hybrid-retrieval lexical ranker
    * (graft.sim.Similarity ann_hybrid_rrf).
    *
    * Bounded array build WITHOUT a vocabulary join: rank posting
    * rows per term and keep maxDf+1 — WindowGroupLimit evaluates the
    * rank cap map-side BEFORE the exchange, so a head term ships at
    * most (maxDf+1)·tasks rows instead of its corpus-scale posting
    * list, and the collected arrays are ≤ maxDf+1 entries by
    * construction (the unbounded-skew trap of a naive
    * group-then-filter). An array that arrives FULL (maxDf+1) means
    * df > maxDf → dropped, exactly the df-pruning semantics; an
    * array under the cap has size = exact df, which feeds idfq. The
    * groupBy(term) after the window rides the SAME term partitioning
    * — one posting-sized exchange total, and posting has a single
    * consumer so nothing needs a persist. (Profiled against the
    * posting⋈vocab formulation: the join re-shuffles posting and
    * forces a second materialization — 6.7 s vs ~4 s at sf0.1.)
    * Returned PERSISTED (multiple consumers in every caller).
    */
  private[graft] def tfidfTermWeights(docs: DataFrame,
      maxDf: Long = 50): DataFrame = {
    // raw-string 3-gram terms WITH multiplicity (tf needs the
    // multiset — shingleBlocks' distinct hashed sets don't fit);
    // <3-token docs have no terms and drop out on both engines
    val t = tokens(col("text"))
    // tf computed off the doc-local explode: each document's terms
    // sit in one partition, so the (doc, term) hash-agg collapses
    // map-side — the exchange carries posting-sized rows once
    val posting = docs
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
            element_at(t, i + 2)))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val byTerm = posting
      .withColumn("rn", row_number().over(wTerm))
      .filter(col("rn") <= maxDf + 1)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("ps"))
      .filter(size(col("ps")) <= maxDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("idfq",
        least(floor(col("n_docs") * lit(10L) / size(col("ps"))),
          lit(100000L)))
      .select(col("term"), expr(
        """transform(ps, p -> struct(p.doc_id AS doc_id,
           least(p.tf, 255L) * idfq AS wq))""").as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager materialization (r20, the kmv-overlap/prefix-filter
    // discipline): every caller fans this frame into ≥2 independent
    // consumers (norms + dots; norms + both term-join sides), which
    // are concurrent leaf stages — without the count they RACE to
    // fill the cold cache and the posting kernel (the expensive
    // stage) can run twice. One fill job here, consumers read cache.
    byTerm.count()
    byTerm
  }

  /** Same pipeline over any documents-shaped frame — spec fixtures. */
  def tfidfCosinePairsOver(docs: DataFrame, maxDf: Long = 50,
      threshold: Double = 0.2): DataFrame = {
    val byTerm = tfidfTermWeights(docs, maxDf)
    val norms = byTerm.select(explode(col("ws")).as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(sum(expr("w.wq * w.wq")).as("norm2"))
    // a<b pair products expand inside the codegen stage off the
    // sorted array — no posting self-join, no second exchange of the
    // weighted frame; fan-out per term is df·(df−1)/2 ≤ maxDf²/2
    val dots = byTerm.select(explode(expr(
        """flatten(transform(ws, (x, i) ->
           transform(slice(ws, i + 2, size(ws)),
             y -> struct(x.doc_id AS a, y.doc_id AS b,
               x.wq * y.wq AS p))))""")).as("e"))
      .groupBy(col("e.a").as("doc_a"), col("e.b").as("doc_b"))
      .agg(sum(col("e.p")).as("dot"))
    val cosine = col("dot").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("norm2").as("na")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("norm2").as("nb")),
        Seq("doc_b"))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Unsorted near-dup pairs — the composable form. */
  def ngramJaccardPairs(docs0: DataFrame, threshold: Double): DataFrame = {
    // <3-token docs have empty shingle sets; a pair of them would make
    // jaccard() divide 0/0, which THROWS under Spark 4's default ANSI
    // mode (the oracle's NULL silently drops the row — also a
    // divergence). No shingles → nothing to near-dup → filter first.
    // both self-join sides project the same (expensive) shingle frame;
    // differing projections defeat exchange reuse, so without persist
    // the tokenize+shingle stage runs twice (same reasoning as
    // minhashLshOver below)
    val docs = docs0.filter(size(col("shh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = docs.select(col("doc_id").as("doc_a"), col("block"),
      col("shh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("block"),
      col("shh").as("sh_b"))
    a.join(b, Seq("block"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ---------------------------------------------------- MinHash + LSH
  /** 32 "permutations" realized as the universal-hash family
    * `(a_p·(x mod M) + b_p) mod M` (PolyHash coefficients) —
    * equivalent independence for LSH purposes with every intermediate
    * inside a Long (no overflow under Spark 4's default ANSI mode).
    * Deterministic across processes AND engines: the driver's re-runs
    * and the DuckDB oracle replay the identical signatures.
    */
  private val NumPerms = 32
  private val BandRows = 4 // => 8 bands; s-curve threshold ~ (1/8)^(1/4) ≈ 0.59

  /** MinHash LSH near-dup: 32-perm signatures over the hashed shingle
    * sets (one `array_min(transform(shh, xxhash64(i, _)))` per
    * permutation — long-only math, no strings) → 8 bands of 4 →
    * explode bands → self-join on the band bucket (the shuffle key) →
    * candidate pairs → verify with exact Jaccard.
    *
    * Hash-verified oracle (round 8): the polynomial hash basis
    * replays in DuckDB, so signatures, band keys, the candidate set,
    * and the Jaccard verification all hash-compare exactly; DedupSpec
    * additionally asserts planted-dup recall.
    */
  def minhashLsh(s: SparkSession, d: String, threshold: Double = 0.5)
      : DataFrame = minhashLshOver(docsWithShingles(s, d), threshold)

  /** Same pipeline over any (doc_id, shh) frame — reused by the spec
    * to run on planted near-duplicates. Docs with no shingles (<3
    * tokens) are filtered out — no content, nothing to dedup (and
    * array_min of an empty array is null, which would bucket all empty
    * docs together).
    */
  def minhashLshOver(docs0: DataFrame, threshold: Double): DataFrame = {
    // The shingled frame feeds FOUR plan branches (two banded sides +
    // two verification joins) and the broadcast joins defeat exchange
    // reuse — without persist the shingle stage runs four times. This
    // is the local analogue of materializing the signature table,
    // which a 100 TB MinHash pipeline does anyway.
    // one materialized frame: shingles + row-local MinHash signature
    // (graft.functions.MinHashSignature — no shingle explode, no
    // groupBy shuffle; the signature falls out of the scan). It feeds
    // FOUR plan branches (two banded sides + two verification joins)
    // and the broadcast joins defeat exchange reuse, so persist — the
    // local analogue of the signature table a 100 TB MinHash pipeline
    // materializes anyway.
    val sigs = docs0
      .filter(size(col("shh")) > 0)
      .select(col("doc_id"), col("shh"),
        graft.functions.ShingleFunctions
          .minhash_signature(col("shh"), NumPerms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shingleSets = sigs.select(col("doc_id"), col("shh"))
    // dedupe candidate pairs on ids ONLY, then join the shingle sets
    // back for verification (distinct over the arrays would hash every
    // shingle set once per banded collision)
    minhashCandidates(sigs)
      .join(shingleSets.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("shh", "sh_a"), Seq("doc_a"))
      .join(shingleSets.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("shh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Banded candidate pairs from a (doc_id, sig) signature frame —
    * factored out (like simhashCandidates) so the growth spec can
    * measure the candidate stage directly. Band keys are full 64-bit
    * hashes, so bucket occupancy tracks near-dup CLUSTER size, not
    * corpus size — the property the spec asserts.
    */
  /** Band keys over 4-row signature slices: two seeded polynomial
    * folds over [band, v0..v3] packed `k1·M + k2` (~60-bit keyspace,
    * so bucket occupancy keeps tracking cluster size, not corpus
    * size). Shared by the batch LSH and the incremental form so the
    * banding scheme can never drift between them; the same folds
    * replay in the DuckDB oracles.
    */
  private def bandKeys(sig: Column): Seq[Column] = {
    val M = lit(graft.functions.PolyHash.M)
    def fold(mult: Long, vs: Seq[Column]): Column =
      vs.foldLeft(lit(7L): Column)((h, v) => (h * lit(mult) + v) % M)
    (0 until NumPerms / BandRows).map { b =>
      val vs = lit(b.toLong) +: (0 until BandRows).map(r =>
        element_at(sig, b * BandRows + r + 1))
      fold(graft.functions.PolyHash.B1, vs) * M +
        fold(graft.functions.PolyHash.B2, vs)
    }
  }

  private[dedup] def minhashCandidates(sigs: DataFrame): DataFrame = {
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandKeys(col("sig")): _*))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct() // a pair can collide in several bands
  }

  /** LSH quality evaluation — the harness every production near-dup
    * pipeline runs before trusting its banding parameters: candidate
    * PRECISION (what fraction of banded candidate pairs are true
    * near-dups — the verification work that isn't wasted) and RECALL
    * vs the blocked exact truth (what fraction of true pairs the
    * bands surface at all; the s-curve's miss rate made measurable).
    * Truth = the blocked exact-Jaccard pairs at `threshold` (the
    * dedup_ngram_jaccard regime); candidates = the banded MinHash
    * pair set, PRE-verification. Both stages already exist and are
    * blocked/banded, so the eval adds only two counts and one
    * pair-key join — no new quadratic surface. "recall_vs_blocked"
    * is exact recall within the blocking regime; candidates crossing
    * blocks count against precision (they would verify false anyway).
    */
  def lshEval(s: SparkSession, d: String, threshold: Double = 0.5)
      : DataFrame = {
    val docs = docsWithShingles(s, d).filter(size(col("shh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = ngramJaccardPairs(docs, threshold)
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = docs.select(col("doc_id"),
      graft.functions.ShingleFunctions
        .minhash_signature(col("shh"), NumPerms).as("sig"))
    val cand = minhashCandidates(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager fills (r20, the kmv discipline): hits/nT/nC below are
    // three independent leaf aggregates of ONE job — unfilled, they
    // race to compute truth's pair kernel and cand's signature
    // pipeline twice each (truth.count also fills the shared docs
    // cache, which cand then reads instead of re-shingling)
    truth.count(); cand.count()
    val hits = cand.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hits"))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    hits.crossJoin(nT).crossJoin(nC) // three one-row frames
      .select(col("n_truth"), col("n_cand"), col("n_hits"),
        round(col("n_hits").cast("double") /
          col("n_cand").cast("double"), 4).as("precision_cand"),
        round(col("n_hits").cast("double") /
          col("n_truth").cast("double"), 4).as("recall_vs_blocked"))
  }

  // ----------------------------------------------------------- SimHash
  /** 64-bit SimHash over tokens (Charikar): per bit, sign of the sum of
    * ±1 votes from each token's packed-polynomial-hash bit (60
    * effective bits — see the token-hash note below). Computed
    * *relationally*:
    * explode tokens → hash each token ONCE → 64 codegen'd conditional
    * sums in a single hash aggregate. (A per-row HOF formulation
    * re-hashed every token 64× through interpreted lambdas — >2 min at
    * sf0.1; this shape runs in seconds and scales out on the doc_id
    * shuffle key.) Near-dup candidates via 4×16-bit band blocking,
    * verified with bit_count(xor) Hamming distance. Hash-verified
    * oracle (round 8): both banding tiers are exact candidate
    * supersets for Hamming ≤ 3, so the oracle brute-forces all pairs
    * at Hamming ≤ maxHamming over the replayed simhash values —
    * banding never changes the result, only the cost. DedupSpec
    * additionally asserts on planted dups.
    */
  def simhash(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val docs = Tables.load(s, d, "documents")
    // the banding tier is a corpus-size knob (see simhashTwoLevelFrom);
    // count() on a parquet scan is row-group metadata only — at 100 TB
    // the same number comes from table stats
    val twoLevel = maxHamming < 4 && simhashTwoLevelFrom(docs.count())
    simhashOver(Tables.spread(docs), maxHamming, twoLevel)
  }

  /** Corpus threshold above which two-level (16-probe, 2^28-key)
    * banding pays for itself. Single-level 16-bit buckets hold ~n/2^16
    * docs each, so within-bucket pair noise passes `targetBucket`
    * occupancy at n ≈ 64·2^16 ≈ 4M docs; below that single-level
    * 4-probe banding generates near-zero noise anyway and costs ~4×
    * less banding/join/distinct work (the r3 bench regression). The
    * corpus size is the knob, mirroring Similarity.planesFor.
    */
  private[dedup] def simhashTwoLevelFrom(n: Long, targetBucket: Int = 64)
      : Boolean = n > (targetBucket.toLong << 16)

  /** Banding keys for a 64-bit simhash. Single-level: 4 probes, one
    * per 16-bit band — two docs within Hamming 3 must agree exactly on
    * ≥1 band (pigeonhole), but a 16-bit key space means bucket
    * occupancy grows linearly with the corpus → within-bucket
    * quadratic at 100×.
    *
    * Two-level (multi-index hashing, Norouzi et al. 2012, applied
    * recursively): for the guaranteed 0-error band, the remaining 48
    * bits still carry ≤3 errors, so one of their four 12-bit
    * sub-blocks is also 0-error — the pair must agree on a 28-bit
    * (band ‖ sub-block) key for one of the 16 probes. Same exactness
    * for Hamming ≤ 3, but a 2^28 key space → bucket occupancy shrinks
    * ~4096× vs 2^16, which is what keeps the pair stage ~linear as
    * the corpus grows (asserted in DedupSpec).
    */
  private def sr(c: Column, n: Int): Column =
    call_function("shiftright", c, lit(n))

  /** Column replay of [[graft.functions.PolyHash.mix32]] — built-in
    * arithmetic only (codegen'd, and stage-replayable in DuckDB).
    * Input must stay < ~3.4e9 so the first multiply fits a Long.
    */
  private def mixCol(x: Column): Column = {
    val Mod = lit(4294967296L)
    val s1 = (x * lit(2654435761L)) % Mod
    val s2 = s1.bitwiseXOR(sr(s1, 16))
    val s3 = (s2 * lit(40503L)) % Mod
    s3.bitwiseXOR(sr(s3, 16))
  }
  private def sl(c: Column, n: Int): Column =
    call_function("shiftleft", c, lit(n))

  private def singleLevelKeys(sim: Column): Seq[Column] =
    (0 until 4).map(b => sr(sim, b * 16).bitwiseAND(0xFFFFL))

  private def twoLevelKeys(sim: Column): Seq[Column] = {
    def band16(b: Int) = sr(sim, b * 16).bitwiseAND(0xFFFFL)
    for { b <- 0 until 4; s <- 0 until 4 } yield {
      val o = (1 to 3).map(j => band16((b + j) % 4))
      val rem48 = sl(o(0), 32).bitwiseOR(sl(o(1), 16)).bitwiseOR(o(2))
      val sub12 = sr(rem48, 36 - 12 * s).bitwiseAND(0xFFFL)
      sl(band16(b), 12).bitwiseOR(sub12)
    }
  }

  /** Candidate pairs from banding alone (no Hamming verification) —
    * factored out so the growth spec can measure candidate-stage input
    * directly. Input: a (doc_id, simhash) frame.
    */
  private[dedup] def simhashCandidates(withSim: DataFrame, maxHamming: Int)
      : DataFrame =
    // 28-bit probes are exact only for the pigeonhole radius (≤
    // bands-1 = 3); beyond it recall was already heuristic under
    // single-level banding, so keep the wider 16-bit buckets there
    simhashCandidates(withSim, twoLevel = maxHamming < 4)

  /** Tier-explicit form: BOTH tiers are exact candidate supersets for
    * Hamming ≤ 3 (each guarantees one clean probe key by pigeonhole),
    * so the post-verification result is tier-independent — the tier
    * only trades local probe cost against bucket occupancy at scale.
    */
  private[dedup] def simhashCandidates(withSim: DataFrame, twoLevel: Boolean)
      : DataFrame = {
    val keys =
      if (twoLevel) twoLevelKeys(col("simhash"))
      else singleLevelKeys(col("simhash"))
    val banded = withSim.select(col("doc_id"), col("simhash"),
      posexplode(array(keys: _*)).as(Seq("band", "band_bits")))
    val a = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("band_bits"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct() // a pair can collide on several probes
  }

  def simhashOver(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashOver(docs, maxHamming, twoLevel = maxHamming < 4)

  def simhashOver(docs: DataFrame, maxHamming: Int, twoLevel: Boolean)
      : DataFrame = {
    val tokenRows = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      // whitespace-only docs split to [""] — no content, nothing to
      // near-dup, and the shared degenerate signature would pair
      // EVERY empty doc with every other (quadratic at scale; the
      // round-3 scaling probe in PLANS.md surfaced this). Same guard
      // as minhash's size(shh) > 0.
      .filter(length(col("tok")) > 0)
      // 60-bit packed token hash with mix32 avalanche on each fold:
      // the raw rolling folds are NOT bit-uniform (short tokens leave
      // high bits zero, so stopword-heavy corpora push many simhash
      // bits to the same all-negative vote — measured 17 → 615
      // hamming≤3 pairs at sf0.01 before the scramble). MinHash is
      // immune (its universal-hash perms scramble any input), but
      // simhash votes on the BITS themselves, so each 30-bit half
      // rides PolyHash.mix32 first. Bits 60..63 are structurally
      // zero — all-negative votes, harmless.
      .withColumn("h",
        mixCol(graft.functions.RollingHash.rolling_hash(col("tok"), 31L))
          % lit(1073741824L) * lit(1073741824L) +
          mixCol(graft.functions.RollingHash.rolling_hash(col("tok"), 37L)
            + lit(2147483648L)) % lit(1073741824L))
    // custom TypedImperativeAggregate: one tight 64-bit-vote loop per
    // token. The declarative 64-sum-column formulation generated so
    // much code that Janino+JIT compilation alone cost ~11 s/session.
    val withSim = tokenRows.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash"))
      // feeds both banded self-join sides; persist so the token
      // explode + aggregate runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    simhashCandidates(withSim, twoLevel)
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------- embedding cosine near-dup
  /** Cosine similarity between two numeric-array columns: the native
    * codegen expression (graft.functions.CosineSimilarity) — one fused
    * loop for dot + both norms. Doubles are summed left-to-right, so
    * DuckDB's `list_reduce` left fold replays bit-identical values for
    * the oracles. (The HOF formulation `aggregate(zip_with(...))`
    * computes the same doubles but through interpreted lambdas —
    * measured 43 s vs <2 s at sf0.1 for the 2M-pair query.)
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  /** Corpus-scale embedding near-dup: hyperplane-LSH-bucketed
    * candidates (graft.sim machinery: corpus-sized plane count +
    * 1-bit multiprobe) verified with the exact codegen cosine. The
    * blocked twin of `embeddingCosine` — candidate generation is
    * bucket-local, so pair cost tracks n·occupancy, not n²:
    * `planesFor(n, targetBucket)` adds a plane every time the corpus
    * doubles, holding occupancy (and per-vector candidate count) flat.
    * targetBucket is small (4) vs search's 64 — a dedup pass pays for
    * every within-bucket PAIR, not a per-query candidate scan.
    *
    * Multiprobe side-trick: only side A explodes its ≤probeBits probe
    * masks while side B keeps its exact signature, so a pair joins iff
    * their signatures are within probeBits Hamming — n·(planes+1) vs n
    * join inputs instead of both sides exploding. Recall for near-dups
    * at cosine ≥ 0.99 is ~0.9 at radius 1 (planted-pair spec); exact
    * dups (Hamming 0) are always caught.
    */
  def embeddingLsh(s: SparkSession, d: String, threshold: Double = 0.35,
      probeBits: Int = 1, targetBucket: Int = 4): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
    // metadata-only count sizes the plane count (table stats at scale)
    val nPlanes = graft.sim.Similarity.planesFor(e.count(), targetBucket)
    embeddingLshOver(e, threshold, probeBits, nPlanes)
      .orderBy(col("v1"), col("v2"))
  }

  /** Same pipeline over any (vec_id, embedding) frame — reused by the
    * planted-pair and candidate-growth specs.
    */
  def embeddingLshOver(e: DataFrame, threshold: Double, probeBits: Int,
      nPlanes: Int): DataFrame =
    embeddingLshCandidates(e, probeBits, nPlanes)
      .withColumn("cosine", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"), col("cosine"))

  /** Bucketed candidate pairs (no cosine verification) — factored out
    * so the growth spec measures the candidate stage directly.
    */
  private[graft] def embeddingLshCandidates(e: DataFrame, probeBits: Int,
      nPlanes: Int): DataFrame = {
    import graft.sim.Similarity.{lshSignature, probeBuckets}
    // signature once per vector; feeds both join sides → persist (the
    // local analogue of materializing the signature table). Released
    // by the caller's clearCache, not here — see object scaladoc
    // (Cache lifecycle).
    val sigs = e.select(col("vec_id"), col("embedding"),
      lshSignature(col("embedding"), nPlanes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sigs.select(col("vec_id").as("v1"), col("embedding").as("emb_a"),
      explode(probeBuckets(col("sig"), probeBits, nPlanes)).as("bucket"))
    val b = sigs.select(col("vec_id").as("v2"), col("embedding").as("emb_b"),
      col("sig").as("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"), col("emb_a"), col("emb_b"))
      // a pair can collide on several probes; ids would suffice for
      // distinct but the embeddings ride along to skip a re-join —
      // bounded by candidate count, which planesFor keeps ~linear
      .dropDuplicates("v1", "v2")
  }

  /** Fixed size of the exact all-pairs EVAL TIER (r15 verdict item
    * #6): exact threshold-cosine over DENSE embeddings is Ω(n²) by
    * nature — no blocking is lossless at moderate thresholds (the
    * hyperplane tier's measured recall at cosine ≥ 0.35 is ~0.2; see
    * `dedup_embedding_lsh_eval`), so an unbounded all-pairs board row
    * was a scale-killer. The board row now runs the exact verifier
    * over the first `EmbeddingEvalCap` vec_ids only: the crossJoin is
    * capped at ~2M pairs at ANY corpus size, which is exactly how a
    * production pipeline uses the exact form — as the bounded
    * ground-truth tier that certifies the approximate tier's recall,
    * never as the corpus-wide pass (that is `embeddingLsh` /
    * `semanticDedupOver`).
    */
  private[graft] val EmbeddingEvalCap = 2000L

  /** Embedding near-dup ground truth: all pairs above a cosine
    * threshold over the bounded eval tier (see [[EmbeddingEvalCap]]).
    * Candidate blocking at 100 TB comes from `embeddingLsh` above;
    * this is the exact verifier on the capped input.
    */
  def embeddingCosine(s: SparkSession, d: String, threshold: Double = 0.35)
      : DataFrame =
    embeddingCosineOver(Tables.load(s, d, "embeddings")
      .filter(col("vec_id") < EmbeddingEvalCap), threshold)

  /** The exact all-pairs verifier over any (vec_id, embedding) frame —
    * callers bound the input (eval tier, planted-pair specs, within-
    * block verify); THIS function is intentionally quadratic.
    */
  def embeddingCosineOver(e: DataFrame, threshold: Double): DataFrame = {
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("emb_b"))
    a.crossJoin(b)
      .filter(col("v1") < col("v2"))
      .withColumn("cosine", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"), col("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  /** LSH-vs-exact eval on the embedding tier — the embedding twin of
    * [[lshEval]] (MinHash/text), and the measurement that JUSTIFIES
    * keeping both tiers on the board: truth = exact all-pairs cosine ≥
    * threshold over the [[EmbeddingEvalCap]] tier; candidates = the
    * hyperplane-LSH bucket pairs at the tier's own planesFor(n, 4)
    * parameters, pre-verification; hits = candidates that verify.
    * recall says what fraction of moderate-threshold truth the
    * 1-bit-probe hyperplane tier surfaces (measured ~0.2 at 0.35 —
    * hyperplane banding is a NEAR-duplicate detector, sharp only
    * near cosine 1; the number makes that contract visible instead
    * of implied), precision_cand says how much verify work the
    * buckets waste. Everything is deterministic (seeded plane hash),
    * so the whole report replays in SQL and rides the hash gate.
    */
  def embeddingLshEval(s: SparkSession, d: String,
      threshold: Double = 0.35): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tier = Tables.load(s, d, "embeddings")
      .filter(col("vec_id") < EmbeddingEvalCap).persist(lvl)
    val nPlanes = graft.sim.Similarity.planesFor(tier.count(), 4)
    val truth = embeddingCosineOver(tier, threshold)
      .select(col("v1"), col("v2")).persist(lvl)
    val cand = embeddingLshCandidates(tier, probeBits = 1, nPlanes)
      .select(col("v1"), col("v2")).persist(lvl)
    // eager fills (r20, the kmv discipline): the three one-row
    // aggregates below are independent leaves of one job and raced to
    // fill truth (the all-pairs cosine kernel — the expensive tier)
    // and cand cold caches, running each up to twice
    truth.count(); cand.count()
    val hits = cand.join(truth, Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_hits"))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    hits.crossJoin(nT).crossJoin(nC) // three one-row frames
      .select(col("n_truth"), col("n_cand"), col("n_hits"),
        round(col("n_hits").cast("double") /
          col("n_cand").cast("double"), 4).as("precision_cand"),
        round(col("n_hits").cast("double") /
          col("n_truth").cast("double"), 4).as("recall_vs_exact"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540): k-means-cluster the embedding space, then verify
    * cosine only WITHIN each cluster — the clustering is the blocking
    * function, so pair cost is Σ cluster_size², not n². The third
    * member of the embedding-dedup family: `embeddingCosine` is the
    * exact all-pairs verifier (bounded inputs only), `embeddingLsh`
    * blocks by hyperplane signature (randomized, per-pair recall
    * bound), this blocks by learned partition (data-adaptive — near
    * neighbors co-cluster unless they straddle a cell boundary, the
    * paper's documented miss mode). Training reuses the Lloyd loop
    * from graft.sim (driver-held k×d centroids, one broadcast-assign
    * job per round); assignment is one more broadcast crossJoin +
    * max_by partial — scan-shaped, no shuffle of the corpus. The
    * within-cluster self-join shuffles on cell id; at 100 TB, k grows
    * with the corpus (k ≈ n/target_cell) to hold cell occupancy — and
    * therefore the quadratic-in-cell verify cost — flat per cell.
    */
  def semanticDedupOver(e0: DataFrame, k: Int, threshold: Double)
      : DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = e0.persist(lvl) // Lloyd re-reads per round; released by
                            // the harness clearCache (cache lifecycle)
    // ROUGH clustering suffices: the within-cluster verify is exact
    // cosine, so Lloyd quality only nudges recall at cell boundaries.
    // FIXED 3 rounds, no tol early-stop (round 10): a data-dependent
    // stopping round made the training un-replayable in SQL and kept
    // this op rows-only; with the deterministic stride init and the
    // quantized-grid means, a fixed unroll is exactly the
    // ann_ivf_kmeans oracle discipline — and each round is a full
    // broadcast-assign + mean-reduce job, so fewer fixed rounds is
    // also the cheaper loop (the old 5-round/tol path usually ran all
    // 5 anyway at this tolerance).
    val (cents, _) =
      graft.sim.Similarity.kmeansCentroidsWithStats(e, k, 3, 0.0)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("c_sim", cosine(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell"), col("embedding")),
        struct(col("c_sim"), -col("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.embedding").as("embedding"))
      // both sides of the within-cluster self-join read this frame —
      // without persist the broadcast-assign pass runs twice
      .persist(lvl)
    // eager fill (r20, the kmv discipline): the self-join's two sides
    // are concurrent leaf stages — persisted but unfilled, they still
    // raced to run the broadcast-assign pass (crossJoin + max_by over
    // the corpus, the query's expensive stage) twice
    assigned.count()
    val a = assigned.select(col("cell"), col("vec_id").as("v1"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("v2"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("cell"))
      .filter(col("v1") < col("v2"))
      .withColumn("cosine", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select(col("cell"), col("v1"), col("v2"), col("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  /** k grows with the corpus (one cell per ~targetCell vectors, floor
    * 10) so cell occupancy — and the quadratic-in-cell verify cost —
    * stays flat as the data scales; the metadata count is the same
    * table-stats probe `embeddingLsh` sizes its planes with.
    */
  def semanticDedup(s: SparkSession, d: String,
      threshold: Double = 0.35, targetCell: Int = 500): DataFrame = {
    val e = Tables.spread(Tables.load(s, d, "embeddings"))
    val k = math.max(10L, e.count() / targetCell).toInt
    semanticDedupOver(e, k, threshold)
  }

  // --------------------------------------- duplicate-cluster formation
  /** Connected components over a near-dup pair graph — the stage a
    * production dedup pipeline runs AFTER pair generation: transitively
    * linked near-dups form one cluster, and the min doc_id is the
    * cluster's keeper (everything else is dropped).
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; converges in
    * O(cluster diameter) rounds. Near-dup clusters are dense and
    * shallow (diameter 2–3), so this is a handful of scan-shaped
    * hash joins over the EDGE list only — never the corpus. For
    * adversarially long chains, swap in alternating large-star/
    * small-star contraction (Kiveris et al. 2014); the per-round
    * shuffle shape is the same.
    */
  def connectedComponents(pairs0: DataFrame): DataFrame =
    connectedComponents(pairs0, localSolveMaxEdges = 1L << 20)

  /** `localSolveMaxEdges` gates a driver-side union-find: the pair
    * graph holds ONLY near-dup edges, so even a 100 TB corpus usually
    * yields an edge list orders smaller than the data (123 edges at
    * sf0.1). Below the bound (default 2^20 edges ≈ 16 MB — the same
    * order as a broadcast side) the solve is one collect + union-find,
    * replacing 2+ distributed rounds whose per-round scheduling
    * overhead dominated the bench (6.7 s for those 123 edges). Above
    * it, the monotone label-propagation loop runs fully distributed —
    * both paths produce identical output (asserted in DedupSpec).
    *
    * The threshold counts EDGES, not bytes: each collected edge is two
    * longs (~48 heap bytes as Rows), so the default bounds the collect
    * at tens of MB regardless of id skew — ids are fixed-width here.
    * Callers grafting wider keys onto this should pass an explicit
    * lower bound via this overload.
    */
  def connectedComponents(pairs0: DataFrame, localSolveMaxEdges: Long)
      : DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both union branches read the pair frame with different
    // projections — without persist the (expensive) pair generation
    // runs twice before edges even materialize
    val pairs = pairs0.persist(lvl)
    if (pairs.count() <= localSolveMaxEdges) return localComponents(pairs)
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(lvl)
    // seed with the 1-hop minimum (every member appears as src since
    // edges are bidirectional) — one propagation round for free
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("m"))
      .select(col("doc_id"), least(col("doc_id"), col("m")).as("label"))
      .persist(lvl)
    // one propagation round: every node takes the min label among
    // itself and its neighbors; `old_label` rides along untouched so
    // the fixed-point test reads off the same materialized frame
    def propagate(cur: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(cur.select(col("doc_id").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      cur.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
    }
    var changed = 1L
    var prevCache = labels
    while (changed > 0) {
      // TWO propagation rounds per driver sync: labels only ever
      // decrease (monotone), so label != two-rounds-ago label iff
      // anything changed in either round — the fixed-point test stays
      // exact while driver-synchronized actions halve. With the free
      // 1-hop seed above, diameter ≤ 3 clusters (the near-dup norm —
      // see scaladoc) finish in ONE action; at 1000 executors the
      // per-action scheduling latency is what this bounds.
      val next = propagate(propagate(
        labels.select(col("doc_id"), col("label"),
          col("label").as("old_label"))))
        .persist(lvl)
      changed = next.filter(col("label") =!= col("old_label")).count()
      prevCache.unpersist()
      prevCache = next
      // cut the logical lineage each round: `propagate` references its
      // input twice, so plans would otherwise QUADRUPLE per iteration
      // — exponential analysis/planning cost on long chains even
      // though the data is cached (surfaced by the DedupSpec chain
      // test as an analyzer OOM)
      labels = next.sparkSession
        .createDataFrame(next.rdd, next.schema)
        .select(col("doc_id"), col("label"))
    }
    edges.unpersist()
    pairs.unpersist()
    // NOTE the returned frame still reads the final `labels` cache —
    // it cannot be released here without recomputing the whole loop
    // lineage on first use. Library callers running many queries in
    // one session should spark.catalog.clearCache() between them (the
    // Bench and Verify harnesses both do).
    labels.select(col("label").as("component"), col("doc_id"))
      .orderBy(col("component"), col("doc_id"))
  }

  /** Driver union-find over a small collected edge list. Union-by-min
    * root makes every root the minimum id of its component, so the
    * label falls out of `find` directly; path compression keeps the
    * forest flat despite the min-order unions.
    */
  private def localComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)].collect()
    pairs.unpersist()
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toSeq.map(x => (find(x), x)).sorted
    // explicit Spark sort: a local relation re-parallelizes, so the
    // Scala-side sort alone would not survive to the output order
    rows.toDF("component", "doc_id")
      .orderBy(col("component"), col("doc_id"))
  }

  /** Cluster formation over the blocked ngram-Jaccard pairs. */
  def dupClusters(s: SparkSession, d: String, threshold: Double = 0.05)
      : DataFrame =
    connectedComponents(
      ngramJaccardPairs(docsWithShingles(s, d), threshold))

  // ------------------------------------------- incremental (batch-vs-corpus)
  /** The production dedup shape at 100 TB: an incoming batch is
    * dropped against the existing corpus (anti-join on content digest)
    * rather than re-deduping the world. Here the split is simulated on
    * doc_id (< pivot = corpus, >= pivot = new batch); returns the new
    * docs that survive.
    */
  def incrementalExact(s: SparkSession, d: String, pivot: Long = 250)
      : DataFrame = {
    val docs = Tables.load(s, d, "documents")
    val corpusDigests = docs.filter(col("doc_id") < pivot)
      .select(md5(col("text")).as("digest")).distinct()
    docs.filter(col("doc_id") >= pivot)
      .withColumn("digest", md5(col("text")))
      .join(corpusDigests, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------- incremental near-dup (MinHash)
  /** The near-dup twin of [[incrementalExact]] — the 100 TB production
    * shape: an incoming batch's band keys join the CORPUS's banded
    * signature table (which a real deployment materializes once and
    * appends to), so per-batch cost tracks the batch, never the
    * corpus. Candidates = batch×corpus band collisions only; exact
    * Jaccard verifies; batch docs with no corpus near-dup survive.
    * Batch-internal duplicates are a separate batch-local pass
    * (minhashLshOver on the batch), kept out so the result is
    * insensitive to intra-batch ordering.
    *
    * Rows-only gate entry (seeded hashes); DedupSpec plants a
    * cross-pivot near-dup and asserts it is dropped.
    */
  def minhashIncremental(s: SparkSession, d: String, pivot: Long = 250,
      threshold: Double = 0.5): DataFrame =
    minhashIncrementalOver(docsWithShingles(s, d), pivot, threshold)

  def minhashIncrementalOver(docs: DataFrame, pivot: Long,
      threshold: Double): DataFrame = {
    // sigs feeds both banded sides and both verify joins of the
    // returned lazy plan; released by the caller's clearCache — see
    // object scaladoc (Cache lifecycle)
    val sigs = docs
      .filter(size(col("shh")) > 0)
      .select(col("doc_id"), col("shh"),
        graft.functions.ShingleFunctions
          .minhash_signature(col("shh"), NumPerms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band doc_ids ONLY — the shingle arrays would be replicated 8×
    // by the posexplode and shipped through two shuffles; they join
    // back from `sigs` per deduped candidate pair instead (the
    // minhashLshOver pattern)
    def banded(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        posexplode(array(bandKeys(col("sig")): _*))
          .as(Seq("band", "band_hash")))
    val candidates = banded(sigs.filter(col("doc_id") >= pivot), "batch_id")
      .join(banded(sigs.filter(col("doc_id") < pivot), "corpus_id"),
        Seq("band", "band_hash"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct() // a pair can collide in several bands; verify each
      // candidate pair once — collapsing to one arbitrary candidate
      // per batch doc could discard the pair that passes the threshold
    val shhById = sigs.select(col("doc_id"), col("shh"))
    val dropped = candidates
      .join(shhById.withColumnRenamed("doc_id", "batch_id")
        .withColumnRenamed("shh", "sh_b"), Seq("batch_id"))
      .join(shhById.withColumnRenamed("doc_id", "corpus_id")
        .withColumnRenamed("shh", "sh_c"), Seq("corpus_id"))
      .filter(jaccard(col("sh_b"), col("sh_c")) >= threshold)
      .select(col("batch_id"))
      .distinct()
    // survivors come from the UNFILTERED batch: the empty-shingle
    // filter above gates candidate generation only — a short doc with
    // no corpus near-dup must survive, not silently vanish
    docs.filter(col("doc_id") >= pivot).select(col("doc_id"))
      .join(dropped.withColumnRenamed("batch_id", "doc_id"),
        Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  // --------------------------------------- repeated-substring detection
  /** Cross-document repeated-substring detection — the scalable
    * relative of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * fixed-length character windows sampled at a stride, hashed, and
    * grouped, so documents sharing ≥ `minShared` distinct window
    * hashes are near-dup pairs at the SUBSTRING tier — long verbatim
    * passages that token-level Jaccard dilutes away inside otherwise
    * different documents.
    *
    * Scale shape: windows per doc = len/stride (fixed fraction of the
    * corpus bytes); explode → the distinct (doc, hash) set →
    * groupBy(hash) with map-side combine; ubiquitous windows
    * (boilerplate/license headers) are CAPPED at `maxOcc` occurrences
    * BEFORE pair expansion — the winnowing discipline that stops a
    * stopword-like window from generating O(n²) pairs. The window
    * hash is md5 of the raw characters, so the DuckDB oracle replays
    * it exactly.
    */
  def substringPairs(s: SparkSession, d: String, winLen: Int = 64,
      stride: Int = 16, minShared: Long = 2, maxOcc: Long = 50)
      : DataFrame =
    substringPairsOver(Tables.spread(Tables.load(s, d, "documents")),
      winLen, stride, minShared, maxOcc)

  def substringPairsOver(docs: DataFrame, winLen: Int = 64,
      stride: Int = 16, minShared: Long = 2, maxOcc: Long = 50)
      : DataFrame = {
    // distinct (doc, window-hash) pairs; floor-division window count
    // (ints divide to double in Spark — floor() keeps both engines on
    // the same integer grid)
    val wh = docs
      .filter(length(col("text")) >= winLen)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0),
            floor((length(col("text")) - winLen) / lit(stride)).cast("int")),
          k => md5(col("text").substr(k * stride + 1, lit(winLen))))))
          .as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = wh.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2 && col("occ") <= maxOcc)
      .select(col("h"))
    val f = wh.join(shared, Seq("h"))
    f.select(col("h"), col("doc_id").as("doc_a"))
      .join(f.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .filter(col("n_shared_windows") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def queries: Map[String, Q] = Map(
    "dedup_clusters" -> ((s, d) => dupClusters(s, d)),
    "dedup_substring" -> ((s, d) => substringPairs(s, d)),
    "dedup_containment" -> ((s, d) => containmentPairs(s, d)),
    "dedup_exact" -> ((s, d) => exact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => simhash(s, d)),
    "dedup_embedding_cosine" -> ((s, d) => embeddingCosine(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => embeddingLsh(s, d)),
    "dedup_embedding_lsh_eval" -> ((s, d) => embeddingLshEval(s, d)),
    "dedup_semantic" -> ((s, d) => semanticDedup(s, d)),
    "dedup_incremental" -> ((s, d) => incrementalExact(s, d)),
    "dedup_minhash_incremental" -> ((s, d) => minhashIncremental(s, d)),
    "dedup_fuzzy_edit" -> ((s, d) => fuzzyEditPairs(s, d)),
    "dedup_sorted_neighborhood" -> ((s, d) => sortedNeighborhood(s, d)),
    "dedup_tfidf_cosine" -> ((s, d) => tfidfCosinePairs(s, d)),
    "dedup_lsh_eval" -> ((s, d) => lshEval(s, d)),
    "dedup_prefix_filter" -> ((s, d) => prefixFilterPairs(s, d)),
    "dedup_blocking_report" -> ((s, d) => blockingReport(s, d)),
    // Entity resolution at the typo tier: fuzzy-edit pairs (the
    // OCR-noise/encoding-jitter near-identical detector) clustered
    // into entities by connected components, one row per
    // multi-member entity (id = min member, the CC label). The
    // record-linkage composition next to dedup_clusters' semantic
    // one — both reuse the verified CC machinery wholesale.
    "dedup_entity_resolution" -> ((s, d) => {
      // the banded-DP pair stage feeds the CC solve's collect AND the
      // label frame it returns — persist or it runs per consumer
      // (measured 8.8 s vs 2.8 s)
      val pairs = fuzzyEditPairs(s, d)
        .select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cc = connectedComponents(pairs)
      cc.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(col("doc_id")).as("max_doc"))
        .select(col("component").as("entity_id"), col("n_members"),
          col("max_doc"))
        .orderBy(col("entity_id"))
    }))

  /** DuckDB twins. minhash/simhash are seeded-hash pipelines — not
    * SQL-expressible — and get the rows-only check.
    */
  /** 60-bit packed polynomial token hash of a token-valued SQL
    * expression — the DuckDB replay of [[graft.functions.PolyHash
    * .tokenHash64]] (two ascii-code folds; corpus is ASCII so code
    * points == bytes, the RollingHash caveat).
    */
  private def tokSqlHalf(t: String, mult: Long): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(1, length($t) + 1),
           i -> CAST(ascii($t[i]) AS BIGINT))),
         (h, b) -> (h * $mult + b) % 1000000007)"""

  // private[graft]: pipeline_contamination_ngram's 13-gram oracle
  // builds on the same per-token hash so the bases can never drift
  private[graft] def tokSql(t: String): String =
    s"(${tokSqlHalf(t, 31L)} * 2147483648 + ${tokSqlHalf(t, 37L)})"

  /** CTEs `tokl` → `sh` (doc_id, shh): the [[shingleBlocks]] replay —
    * packed token hashes, packed 3-gram combines, distinct.
    */
  private def shingleSqlCtes: String = shingleSqlCtesFrom("documents")

  /** Same CTE chain over any (doc_id, text) relation — the sweep
    * shingles exact-dup SURVIVORS, not the full table.
    */
  private def shingleSqlCtesFrom(from: String): String = {
    def fold(mult: Long): String =
      s"""((((((7 * $mult + th[i]) % 1000000007)
            * $mult + th[i + 1]) % 1000000007)
            * $mult + th[i + 2]) % 1000000007)"""
    s"""tokl AS MATERIALIZED (
         SELECT doc_id,
           list_transform(string_split_regex(lower(text), '\\s+'),
             t -> ${tokSql("t")}) AS th
         FROM $from),
       sh AS MATERIALIZED (
         SELECT doc_id,
           CASE WHEN len(th) >= 3 THEN
             list_distinct(list_transform(range(1, len(th) - 1),
               i -> ${fold(1000003L)} * 1000000007 + ${fold(999983L)}))
           ELSE CAST([] AS BIGINT[]) END AS shh
         FROM tokl)"""
  }

  /** CTEs `pc` (mix32-seeded permutation coefficients) → `sigl`
    * (doc_id, 32-min signature) → `bk` (doc_id, band, packed band
    * key): the MinHashSignature + bandKeys replay.
    */
  private def minhashSigCtes: String = {
    def bandFold(mult: Long): String =
      s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
           [CAST(b AS BIGINT), sig[4*b + 1], sig[4*b + 2],
            sig[4*b + 3], sig[4*b + 4]]),
           (h, v) -> (h * $mult + v) % 1000000007)"""
    s"""px AS (SELECT x FROM range(1000, 1064) t(x)),
       n1 AS (SELECT x, (x * 2654435761) % 4294967296 AS v FROM px),
       n2 AS (SELECT x, xor(v, v // 65536) AS v FROM n1),
       n3 AS (SELECT x, (v * 40503) % 4294967296 AS v FROM n2),
       n4 AS (SELECT x, xor(v, v // 65536) AS v FROM n3),
       pc AS (SELECT (x - 1000) // 2 AS p,
                max(CASE WHEN x % 2 = 0 THEN v % 1000000006 + 1 END) AS a,
                max(CASE WHEN x % 2 = 1 THEN v % 1000000007 END) AS b
              FROM n4 GROUP BY 1),
       se AS (SELECT doc_id, unnest(shh) AS s FROM sh WHERE len(shh) > 0),
       sigv AS (SELECT doc_id, p,
                  min((a * (s % 1000000007) + b) % 1000000007) AS v
                FROM se, pc GROUP BY doc_id, p),
       sigl AS (SELECT doc_id, list(v ORDER BY p) AS sig
                FROM sigv GROUP BY doc_id),
       bk AS (SELECT doc_id, b,
                ${bandFold(1000003L)} * 1000000007 +
                ${bandFold(999983L)} AS key
              FROM sigl, range(0, 8) t(b))"""
  }

  /** Exact-Jaccard verification expression over two `sh`-joined
    * shingle sets — the inclusion-exclusion identity, matching the
    * Spark [[jaccard]] double division bit-for-bit.
    */
  private def jaccardSql(a: String, b: String): String =
    s"""(CAST(len(list_intersect($a, $b)) AS DOUBLE) /
        CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"""

  def oracles: Map[String, String] = Map(
    // Round-8 polynomial-hash upgrade: signatures, band keys,
    // candidate sets, and verification all replay in SQL — the three
    // MinHash/SimHash queries below are hash-verified end-to-end.
    "dedup_minhash_lsh" ->
      s"""WITH $shingleSqlCtes,
         $minhashSigCtes,
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bk x JOIN bk y
                    ON x.b = y.b AND x.key = y.key
                   AND x.doc_id < y.doc_id),
         ver AS (SELECT c.doc_a, c.doc_b,
                   ${jaccardSql("sa.shh", "sb.shh")} AS jaccard
                 FROM cand c
                 JOIN sh sa ON sa.doc_id = c.doc_a
                 JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, jaccard FROM ver
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
    // Composition of the two replays above: blocked exact truth vs
    // the banded candidate set, scalar precision/recall.
    "dedup_lsh_eval" ->
      s"""WITH $shingleSqlCtes,
         $minhashSigCtes,
         blk AS (
           SELECT doc_id, lang || '#' ||
             CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR)
             AS block
           FROM documents),
         d2 AS (
           SELECT s.doc_id, s.shh, b.block
           FROM sh s JOIN blk b USING (doc_id)
           WHERE len(s.shh) > 0),
         truth AS (
           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM d2 x JOIN d2 y
             ON x.block = y.block AND x.doc_id < y.doc_id
           WHERE ${jaccardSql("x.shh", "y.shh")} >= 0.5),
         cand AS MATERIALIZED (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bk x JOIN bk y
             ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
         hits AS (
           SELECT count(*) AS n_hits
           FROM cand c JOIN truth t
             ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
           (SELECT CAST(n_hits AS BIGINT) FROM hits) AS n_hits,
           round(CAST((SELECT n_hits FROM hits) AS DOUBLE) /
             CAST((SELECT count(*) FROM cand) AS DOUBLE), 4)
             AS precision_cand,
           round(CAST((SELECT n_hits FROM hits) AS DOUBLE) /
             CAST((SELECT count(*) FROM truth) AS DOUBLE), 4)
             AS recall_vs_blocked""",
    "dedup_minhash_incremental" ->
      s"""WITH $shingleSqlCtes,
         $minhashSigCtes,
         cand AS (SELECT DISTINCT x.doc_id AS batch_id,
                    y.doc_id AS corpus_id
                  FROM bk x JOIN bk y
                    ON x.b = y.b AND x.key = y.key
                  WHERE x.doc_id >= 250 AND y.doc_id < 250),
         drp AS (SELECT DISTINCT c.batch_id
                 FROM cand c
                 JOIN sh sa ON sa.doc_id = c.batch_id
                 JOIN sh sb ON sb.doc_id = c.corpus_id
                 WHERE ${jaccardSql("sa.shh", "sb.shh")} >= 0.5)
         SELECT d.doc_id FROM documents d
         WHERE d.doc_id >= 250
           AND d.doc_id NOT IN (SELECT batch_id FROM drp)
         ORDER BY d.doc_id""",
    // Both banding tiers are exact candidate supersets for
    // Hamming <= 3 (pigeonhole over 4 disjoint 16-bit bands), so the
    // oracle brute-forces all pairs over the replayed simhash — the
    // banding only prunes cost, never results. The m1..m4 stages are
    // PolyHash.mix32 unrolled over both fold halves (the avalanche
    // that makes token bits vote-uniform); bits 60..63 of the packed
    // hash are structurally zero, so vote bits stop at 59 (Spark's
    // all-negative votes leave them 0 identically).
    "dedup_simhash" ->
      s"""WITH tk AS (
           SELECT doc_id,
             unnest(string_split_regex(lower(text), '\\s+')) AS t
           FROM documents),
         t0 AS (SELECT doc_id, ${tokSqlHalf("t", 31L)} AS a,
                  ${tokSqlHalf("t", 37L)} + 2147483648 AS b
                FROM tk WHERE length(t) > 0),
         m1 AS (SELECT doc_id, (a * 2654435761) % 4294967296 AS a,
                  (b * 2654435761) % 4294967296 AS b FROM t0),
         m2 AS (SELECT doc_id, xor(a, a // 65536) AS a,
                  xor(b, b // 65536) AS b FROM m1),
         m3 AS (SELECT doc_id, (a * 40503) % 4294967296 AS a,
                  (b * 40503) % 4294967296 AS b FROM m2),
         m4 AS (SELECT doc_id,
                  xor(a, a // 65536) % 1073741824 * 1073741824 +
                  xor(b, b // 65536) % 1073741824 AS h FROM m3),
         votes AS (SELECT doc_id, k,
                     sum(CASE WHEN (h >> CAST(k AS INT)) & 1 = 1
                         THEN 1 ELSE -1 END) AS v
                   FROM m4, range(0, 60) r(k) GROUP BY doc_id, k),
         sim AS (SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0
                     THEN CAST(1 AS BIGINT) << CAST(k AS INT)
                     ELSE 0 END) AS BIGINT) AS simhash
                 FROM votes GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                       AS hamming
                   FROM sim a JOIN sim b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM pairs
         WHERE hamming <= 3 ORDER BY doc_a, doc_b""",
    // The deterministic-hyperplane upgrade (Similarity.mix32, round
    // 8) makes the bucketed candidate stage SQL-replayable: planes
    // are a pure integer function of (plane, dim), signatures are
    // index-order dot folds, and the pair set is "signatures within
    // 1-bit Hamming" — so the whole blocked near-dup pipeline gets a
    // hash oracle instead of the planted-pair-spec-only check.
    "dedup_embedding_lsh" ->
      s"""WITH ${graft.sim.Similarity.lshSigCtes(
        """SELECT LEAST(24, GREATEST(4,
             CAST(ceil(ln(count(*) / 4.0) / ln(2.0)) AS INT))) AS np
           FROM embeddings""")},
         pr AS (SELECT vec_id, unnest(list_prepend(sig,
                  list_transform(range(0, np),
                    b -> xor(sig, CAST(1 AS BIGINT) << CAST(b AS INT)))))
                  AS bucket
                FROM sg, np),
         cand AS (SELECT DISTINCT a.vec_id AS v1, s.vec_id AS v2
                  FROM pr a JOIN sg s ON s.sig = a.bucket
                  WHERE a.vec_id < s.vec_id),
         scored AS (SELECT c.v1, c.v2,
                      ${graft.sim.Similarity.cosSql(
                        "ea.embedding", "eb.embedding")} AS cosine
                    FROM cand c
                    JOIN embeddings ea ON ea.vec_id = c.v1
                    JOIN embeddings eb ON eb.vec_id = c.v2)
         SELECT v1, v2, cosine FROM scored
         WHERE cosine >= 0.35 ORDER BY v1, v2""",
    // the embedding LSH-vs-exact eval on the same 2000-vec tier: the
    // signature/probe replay is dedup_embedding_lsh's machinery with
    // np sized from the TIER count (the Spark side's planesFor over
    // the capped frame); truth is the capped all-pairs form above
    "dedup_embedding_lsh_eval" ->
      s"""WITH ${graft.sim.Similarity.lshSigCtes(
        """SELECT LEAST(24, GREATEST(4,
             CAST(ceil(ln(count(*) / 4.0) / ln(2.0)) AS INT))) AS np
           FROM embeddings WHERE vec_id < 2000""")},
         tsg AS (SELECT vec_id, sig FROM sg WHERE vec_id < 2000),
         pr AS (SELECT vec_id, unnest(list_prepend(sig,
                  list_transform(range(0, np),
                    b -> xor(sig, CAST(1 AS BIGINT) << CAST(b AS INT)))))
                  AS bucket
                FROM tsg, np),
         cand AS (SELECT DISTINCT a.vec_id AS v1, s.vec_id AS v2
                  FROM pr a JOIN tsg s ON s.sig = a.bucket
                  WHERE a.vec_id < s.vec_id),
         truth AS (
           SELECT a.vec_id AS v1, b.vec_id AS v2
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE a.vec_id < 2000 AND b.vec_id < 2000
             AND ${graft.sim.Similarity.cosSql(
               "a.embedding", "b.embedding")} >= 0.35),
         hits AS (SELECT count(*) AS n_hits
                  FROM cand JOIN truth USING (v1, v2)),
         nt AS (SELECT count(*) AS n_truth FROM truth),
         nc AS (SELECT count(*) AS n_cand FROM cand)
         SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(CAST(n_hits AS DOUBLE) / CAST(n_cand AS DOUBLE), 4)
             AS precision_cand,
           round(CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE), 4)
             AS recall_vs_exact
         FROM hits, nt, nc""",
    "dedup_containment" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           FROM (SELECT doc_id,
                   string_split_regex(lower(text), '\s+') AS t
                 FROM documents)
           WHERE len(t) >= 3),
         posting AS (SELECT doc_id, unnest(s) AS g FROM sh),
         rare AS (
           SELECT g FROM (SELECT g, count(*) AS occ FROM posting
                          GROUP BY 1)
           WHERE occ BETWEEN 2 AND 20),
         rp AS (SELECT p.doc_id, p.g FROM posting p JOIN rare USING (g)),
         cand AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 2),
         pairs AS (
           SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               CAST(len(sa.s) AS DOUBLE) AS cont_a_in_b,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               CAST(len(sb.s) AS DOUBLE) AS cont_b_in_a
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b)
         SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM pairs
         WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5
         ORDER BY doc_a, doc_b""",
    "dedup_substring" ->
      """WITH wins AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(0, (length(text) - 64) // 16 + 1),
             k -> md5(substring(text, k * 16 + 1, 64))))) AS h
           FROM documents WHERE length(text) >= 64),
         shared AS (
           SELECT h FROM (SELECT h, count(*) AS occ FROM wins GROUP BY 1)
           WHERE occ BETWEEN 2 AND 50),
         f AS (SELECT w.doc_id, w.h FROM wins w JOIN shared USING (h)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n
           FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n AS BIGINT) AS n_shared_windows
         FROM pairs WHERE n >= 2 ORDER BY doc_a, doc_b""",
    // the ngram pair generation replayed, then components via a
    // recursive transitive closure (tiny graph: only docs that appear
    // in a near-dup pair) with component = min reachable id
    "dedup_clusters" ->
      """WITH RECURSIVE docs AS MATERIALIZED (
           SELECT doc_id,
             lang || '#' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR) AS block,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0) + 1),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+2])) AS sh
           FROM documents),
         -- posting-list form of the same J >= 0.05 verify: |A∩B| via a
         -- hash join + group-by instead of a per-pair list_intersect
         -- (the per-pair block self-join ran on ~4 cores and blew the
         -- sf1 budget; zero-overlap pairs have J = 0 and can never
         -- pass, so the shared-shingle join enumerates exactly the
         -- passing set — r14 sf1 gate finding)
         sizes AS MATERIALIZED (
           SELECT doc_id, CAST(len(sh) AS BIGINT) AS l FROM docs),
         posting AS MATERIALIZED (
           SELECT doc_id, block, unnest(sh) AS tok FROM docs),
         inter AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS ni
           FROM posting a JOIN posting b
             ON a.block = b.block AND a.tok = b.tok
            AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT i.doc_a, i.doc_b
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b
           WHERE CAST(i.ni AS DOUBLE) /
                 CAST(sa.l + sb.l - i.ni AS DOUBLE) >= 0.05),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         members AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM edges)
         SELECT least(m.doc_id, min(r.dst)) AS component, m.doc_id
         FROM members m JOIN reach r ON r.src = m.doc_id
         GROUP BY m.doc_id
         ORDER BY component, doc_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_doc_id,
         count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY content_md5""",
    "dedup_ngram_jaccard" ->
      """WITH docs AS (
           SELECT doc_id,
             lang || '#' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR) AS block,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0) + 1),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+2])) AS sh
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
         FROM docs a JOIN docs b ON a.block = b.block AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.05
         ORDER BY doc_a, doc_b""",
    "dedup_incremental" ->
      """SELECT doc_id, md5(text) AS digest FROM documents
         WHERE doc_id >= 250 AND md5(text) NOT IN
           (SELECT md5(text) FROM documents WHERE doc_id < 250)
         ORDER BY doc_id""",
    // bounded to the 2000-vec eval tier (r15 #6 — see EmbeddingEvalCap)
    "dedup_embedding_cosine" ->
      """WITH pairs AS (
           SELECT a.vec_id AS v1, b.vec_id AS v2, a.embedding AS ea,
                  b.embedding AS eb
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE a.vec_id < 2000 AND b.vec_id < 2000),
         sims AS (
           SELECT v1, v2,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(ea) + 1),
                 i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))),
               (x, y) -> x + y) /
             (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(ea) + 1),
                 i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))),
               (x, y) -> x + y)) *
              sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(eb) + 1),
                 i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))),
               (x, y) -> x + y))) AS cosine
           FROM pairs)
         SELECT v1, v2, cosine FROM sims WHERE cosine >= 0.35
         ORDER BY v1, v2""",

    // dedup_semantic upgraded from rows-only (round 10, r9 verdict
    // item #5): the ann_ivf_kmeans unroll discipline — deterministic
    // stride init, 3 fixed Lloyd rounds (assignment = row_number
    // argmax replaying the max_by (c_sim DESC, cell ASC) tie-break;
    // means on the quantized 1e-6 grid), then the final assignment
    // and the exact within-cell cosine verify, all on the shared
    // index-order left-fold cosine. k and the init stride replay the
    // Spark side's count-derived values (k = max(10, n/500),
    // stride = max(n/k, 1)).
    "dedup_semantic" -> {
      def assign(prev: String, out: String): String =
        s"""$out AS (
             SELECT vec_id, cell, embedding FROM (
               SELECT s.vec_id, s.cell, s.embedding,
                 row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY s.c_sim DESC, s.cell) AS rn
               FROM (
                 SELECT e.vec_id, c.cell, e.embedding,
                   ${graft.sim.Similarity.cosSql(
                     "e.embedding", "c.centroid")} AS c_sim
                 FROM embeddings e CROSS JOIN $prev c) s) r
             WHERE rn = 1)"""
      def means(asgn: String, out: String): String =
        s"""$out AS (
             SELECT cell, list(m ORDER BY pos) AS centroid FROM (
               SELECT cell, pos,
                 floor(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*))
                   / 1000000.0 AS m
               FROM (
                 SELECT a.cell,
                   unnest(list_transform(a.embedding,
                     v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0)
                       AS BIGINT))) AS q,
                   unnest(range(1, len(a.embedding) + 1)) AS pos
                 FROM $asgn a) qq
               GROUP BY cell, pos) mm
             GROUP BY cell)"""
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                      FROM embeddings),
         kk AS (SELECT greatest(10, n // 500) AS k,
                  greatest(n // greatest(10, n // 500), 1) AS stride
                FROM nn),
         c0 AS (
           SELECT cell, centroid FROM (
             SELECT vec_id AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE))
                 AS centroid,
               row_number() OVER (ORDER BY vec_id) AS rn
             FROM embeddings, kk WHERE vec_id % stride = 0)
           WHERE rn <= (SELECT k FROM kk)),
         ${assign("c0", "a1")},
         ${means("a1", "c1")},
         ${assign("c1", "a2")},
         ${means("a2", "c2")},
         ${assign("c2", "a3")},
         ${means("a3", "c3")},
         ${assign("c3", "cells")},
         sims AS (
           SELECT a.cell, a.vec_id AS v1, b.vec_id AS v2,
             ${graft.sim.Similarity.cosSql(
               "a.embedding", "b.embedding")} AS cosine
           FROM cells a JOIN cells b
             ON a.cell = b.cell AND a.vec_id < b.vec_id)
         SELECT cell, v1, v2, cosine FROM sims WHERE cosine >= 0.35
         ORDER BY v1, v2"""
    },

    // The fuzzy pair CTE + dedup_clusters' recursive-closure replay,
    // rolled up per component.
    "dedup_entity_resolution" ->
      """WITH RECURSIVE docs AS (
           SELECT doc_id,
             lang || '#' || CAST(CAST(floor(n_chars / 100) AS BIGINT)
               AS VARCHAR) AS block,
             substring(text, 1, 60) AS prefix
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM docs a JOIN docs b ON a.block = b.block
             AND a.doc_id < b.doc_id
           WHERE levenshtein(a.prefix, b.prefix) <= 10),
         edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e
             ON r.dst = e.src),
         members AS (SELECT DISTINCT src AS doc_id FROM edges),
         cc AS (
           SELECT least(m.doc_id, min(r.dst)) AS component, m.doc_id
           FROM members m JOIN reach r ON r.src = m.doc_id
           GROUP BY m.doc_id)
         SELECT component AS entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(doc_id) AS BIGINT) AS max_doc
         FROM cc GROUP BY 1 ORDER BY entity_id""",

    "dedup_fuzzy_edit" ->
      """WITH docs AS (
           SELECT doc_id,
             lang || '#' || CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR) AS block,
             substring(text, 1, 60) AS prefix
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
         FROM docs a JOIN docs b ON a.block = b.block
           AND a.doc_id < b.doc_id
         WHERE levenshtein(a.prefix, b.prefix) <= 10
         ORDER BY doc_a, doc_b""",
    // row_number twin of the PrefixSum rank (the global_index
    // equivalence); raw-string shingle Jaccard like dedup_clusters
    "dedup_sorted_neighborhood" ->
      """WITH keyed AS (
           SELECT doc_id,
             substring(regexp_replace(lower(text), '\s+', ' ', 'g'),
               1, 24) AS snkey
           FROM documents),
         ranked AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY snkey, doc_id) AS BIGINT)
               AS rn
           FROM keyed),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 2, 0) + 1),
             i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                  string_split_regex(lower(text), '\s+')[i+1] || ' ' ||
                  string_split_regex(lower(text), '\s+')[i+2])) AS sh
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ranked a JOIN ranked b
             ON b.rn > a.rn AND b.rn <= a.rn + 4),
         ver AS (
           SELECT least(id_a, id_b) AS doc_a,
             greatest(id_a, id_b) AS doc_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             CAST(len(sa.sh) + len(sb.sh) -
                  len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS jaccard
           FROM pairs
           JOIN sh sa ON sa.doc_id = id_a
           JOIN sh sb ON sb.doc_id = id_b
           WHERE len(sa.sh) > 0 AND len(sb.sh) > 0)
         SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= 0.05
         ORDER BY doc_a, doc_b""",
    // integer-quantized weights make the dot/norm sums order-free
    // exact on both engines; DuckDB's HUGEINT sum and Spark's long
    // sum cast to the identical double
    "dedup_tfidf_cosine" ->
      """WITH tok AS (
           SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
           FROM documents),
         posting AS MATERIALIZED (
           SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(t) - 2, 0) + 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS term
             FROM tok) GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         vocab AS (
           SELECT term,
             least(CAST(floor(n_docs * 10 / df) AS BIGINT), 100000)
               AS idfq
           FROM (SELECT term, count(*) AS df FROM posting GROUP BY 1), nd
           WHERE df <= 50),
         weighted AS (
           SELECT p.doc_id, p.term, least(p.tf, 255) * v.idfq AS wq
           FROM posting p JOIN vocab v USING (term)),
         norms AS (
           SELECT doc_id, sum(wq * wq) AS norm2 FROM weighted GROUP BY 1),
         dots AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.wq * b.wq) AS dot
           FROM weighted a JOIN weighted b USING (term)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(dot AS DOUBLE) /
             (sqrt(CAST(na.norm2 AS DOUBLE)) *
              sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
         FROM dots
         JOIN norms na ON na.doc_id = doc_a
         JOIN norms nb ON nb.doc_id = doc_b
         WHERE CAST(dot AS DOUBLE) /
             (sqrt(CAST(na.norm2 AS DOUBLE)) *
              sqrt(CAST(nb.norm2 AS DOUBLE))) >= 0.2
         ORDER BY doc_a, doc_b""",

    // Unit sizes replayed off the shingle CTEs; n-row arithmetic
    // shared by the three arms.
    "dedup_blocking_report" ->
      s"""WITH $shingleSqlCtes,
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         bsz AS (
           SELECT lang || '#' ||
               CAST(CAST(floor(n_chars / 100) AS BIGINT) AS VARCHAR)
               AS block,
             CAST(count(*) AS BIGINT) AS b
           FROM documents GROUP BY 1),
         posting AS (SELECT doc_id, unnest(shh) AS s FROM sh),
         rsz AS (
           SELECT s, CAST(count(*) AS BIGINT) AS c FROM posting
           GROUP BY 1 HAVING count(*) BETWEEN 2 AND 20)
         SELECT '0_all_pairs' AS strategy,
           CAST(1 AS BIGINT) AS n_units, n AS max_unit,
           CAST(n * (n - 1) // 2 AS BIGINT) AS candidate_pairs,
           round(CAST(n * (n - 1) // 2 AS DOUBLE) /
             CAST(n * (n - 1) // 2 AS DOUBLE), 8) AS reduction
         FROM nn
         UNION ALL
         SELECT '1_lang_length_block',
           CAST(count(*) AS BIGINT), CAST(max(b) AS BIGINT),
           CAST(sum(b * (b - 1) // 2) AS BIGINT),
           round(CAST(sum(b * (b - 1) // 2) AS DOUBLE) /
             CAST(n * (n - 1) // 2 AS DOUBLE), 8)
         FROM bsz, nn GROUP BY n
         UNION ALL
         SELECT '2_rare_shingle',
           CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT),
           CAST(sum(c * (c - 1) // 2) AS BIGINT),
           round(CAST(sum(c * (c - 1) // 2) AS DOUBLE) /
             CAST(n * (n - 1) // 2 AS DOUBLE), 8)
         FROM rsz, nn GROUP BY n
         ORDER BY strategy""",

    // The same prefix-filtering pipeline replayed literally: df
    // ranks, canonical (df, shingle) order via the ordered list()
    // aggregate, integer prefix length, pair join + length filter,
    // exact set verification. Losslessness is the SPEC's job
    // (DedupSpec brute-forces all pairs); the oracle pins the
    // pipeline.
    "dedup_prefix_filter" ->
      s"""WITH $shingleSqlCtes,
         $prefixFilterSqlCtes
         SELECT doc_a, doc_b, n_inter, n_union FROM v
         WHERE n_inter * 2 >= n_union
         ORDER BY doc_a, doc_b""")

  /** CTE chain `posting → dft → docsx → pre → cand → v` replaying
    * [[prefixFilterPairsOver]] over an existing `sh` (doc_id, shh)
    * CTE. Pairs with verified J ≥ 1/2 are
    * `SELECT ... FROM v WHERE n_inter * 2 >= n_union`. Shared by the
    * dedup_prefix_filter oracle and pipeline_dedup_sweep's near tier.
    */
  private[graft] def prefixFilterSqlCtes: String =
    """posting AS MATERIALIZED (
           SELECT doc_id, unnest(shh) AS tok FROM sh
           WHERE len(shh) > 0),
         dft AS (SELECT tok, count(*) AS df FROM posting GROUP BY 1),
         docsx AS MATERIALIZED (
           SELECT p.doc_id, list(p.tok ORDER BY d.df, p.tok) AS toks
           FROM posting p JOIN dft d ON d.tok = p.tok GROUP BY 1),
         pre AS MATERIALIZED (
           SELECT doc_id, CAST(len(toks) AS BIGINT) AS l,
             unnest(list_slice(toks, 1,
               len(toks) - ((len(toks) + 1) // 2) + 1)) AS tok
           FROM docsx),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM pre a JOIN pre b ON a.tok = b.tok
           WHERE a.doc_id < b.doc_id
             AND least(a.l, b.l) * 2 >= greatest(a.l, b.l)),
         v AS MATERIALIZED (
           SELECT doc_a, doc_b,
             CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT)
               AS n_inter,
             CAST(len(da.toks) + len(db.toks)
               - len(list_intersect(da.toks, db.toks)) AS BIGINT)
               AS n_union
           FROM cand
           JOIN docsx da ON da.doc_id = cand.doc_a
           JOIN docsx db ON db.doc_id = cand.doc_b)"""

  /** [[minhashSigCtes]] + [[jaccardSql]] exposed for cross-file oracle
    * composition — q186_decontam_ivm (Frontier5) replays the
    * decontamination guard's MinHash screen, which is this module's
    * signature/banding chain verbatim.
    */
  private[graft] def minhashCtesShared: String = minhashSigCtes
  private[graft] def jaccardSqlShared(a: String, b: String): String =
    jaccardSql(a, b)

  /** [[shingleSqlCtesFrom]] exposed for cross-file oracle composition
    * (pipeline_dedup_sweep shingles exact-dup survivors).
    */
  private[graft] def shingleCtesOver(from: String): String =
    shingleSqlCtesFrom(from)
}
