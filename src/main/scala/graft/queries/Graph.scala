package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Q, Tables}

/** Iterative graph analytics on the relational surface (round 7).
  *
  * The reference (`/root/reference/`, a record-at-a-time log forwarder —
  * SURVEY.md §2a) has no multi-record state at all; PageRank-class
  * iteration is the §2b extension a curation pipeline uses for
  * source-authority weighting (rank hosts by who links to them, weight
  * documents by host rank). No link data exists in the synthetic corpus,
  * so the graph is the customer↔supplier trade network implied by
  * orders⋈lineitem — the iteration machinery is what is under test.
  *
  * Cross-engine determinism: ranks live in SCALED LONGS (1e12 = rank
  * mass 1.0) and every step is integer arithmetic — `div` truncation on
  * both engines, order-free integer sums — so five iterations stay
  * hash-identical to DuckDB with no float fold order to flip a bit.
  *
  * 100 TB shape: the edge list is the only corpus-sized frame — built
  * scan-shaped and persisted, never re-shuffled. Each round joins it
  * against a node-sized rank table that travels as a broadcast
  * (nodes ≪ edges — hosts vs links), so an iteration's only exchange
  * is the groupBy(dst) integer-sum shuffle of (dst, long) pairs,
  * collapsed map-side to ≤|nodes| rows per task — payloads never
  * move. Every broadcast in this family goes through
  * [[graft.ops.Hints.broadcastIfSmall]] (r15 verdict item #1): the
  * node tables are gated on the row count the loop already holds as
  * a driver scalar, so past the gate the hint is simply NOT applied
  * and the planner falls back to a shuffled hash / sort-merge join on
  * the key — a real degradation path, unlike a raw `broadcast()`
  * hint, which AQE honors unconditionally and which OOMs when the
  * node table outgrows executor memory. Driver holds two scalars
  * (node count, base term), never a vertex vector.
  */
object Graph {

  /** Rank-mass scale: 1.0 of PageRank mass = 1e12 scaled units. */
  private val Scale = 1000000000000L

  def queries: Map[String, Q] = Map(

    // 5-round damped PageRank (d = 0.85) over the symmetric
    // customer↔supplier trade graph; top-100 authorities. The oracle
    // unrolls the SAME five integer iterations as chained CTEs —
    // aggregation inside a recursive term is non-standard SQL, and the
    // unrolled chain makes the per-round parity explicit.
    "q62_pagerank" -> ((s, d) => {
      import s.implicits._
      pagerankFull(s, d)
        .select(when($"node" % 2 === 0,
            concat(lit("c"), expr("node div 2").cast("string")))
          .otherwise(
            concat(lit("s"), expr("(node - 1) div 2").cast("string")))
          .as("node"),
          $"r".as("rank_scaled"))
        .orderBy($"rank_scaled".desc, $"node").limit(100)
    }),

    // Personalized PageRank: q62's random surfer, but every teleport
    // lands on the SEED COHORT (nation-0 customers) instead of
    // uniformly — "importance as seen FROM this cohort", the
    // recommendation/expansion primitive (seed-biased crawl
    // prioritization, related-entity retrieval) global PageRank
    // cannot express. Same integer discipline as q62 (scaled longs,
    // r div outdeg, 85·got div 100 — every truncation replays
    // identically in the unrolled-CTE oracle) with TWO seed-aware
    // changes: the teleport mass (0.15·S/|S| on seeds, zero
    // elsewhere) is stitched back each round by a left join against
    // the COHORT-SIZED seed set (size-gated broadcast — far smaller
    // than a node-sized bias table), and the init puts the whole
    // unit mass on the seeds (S div |S|). Nodes outside the
    // seeds' reach stay exactly 0 through all rounds — integer zero
    // flow, not float underflow — so the ranking is a true reach
    // ordering. Per round: one size-gated broadcast join + one
    // map-side-combined groupBy exchange, materialized per round
    // (the q62 lineage discipline).
    "q213_ppr" -> ((s, d) => {
      import s.implicits._
      val li = Tables.load(s, d, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ord = Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey")
      val edges = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("src"),
          ($"l_suppkey" * 2 + 1).as("dst"))
        .select(explode(array(
          struct($"src", $"dst"),
          struct($"dst".as("src"), $"src".as("dst")))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = deg.count()
      val seeds = deg.select($"src".as("node"))
        .join(Tables.load(s, d, "customer")
            .filter($"c_nationkey" === 0)
            .select(($"c_custkey" * 2).as("node")),
          Seq("node"), "left_semi")
      val ns = seeds.count() // driver scalar: seed-cohort size
      // ADVICE r16: an empty cohort would divide by zero here AND in
      // the oracle's `// ns` — fail loudly with the cause instead of
      // an opaque ArithmeticException (every shipped SF has nation-0
      // customers in the graph; an empty cohort means the input is
      // not the table this query is defined over)
      require(ns > 0,
        "q213_ppr: seed cohort (nation-0 customers present in the " +
          "order graph) is empty — personalized teleport is undefined")
      // the teleport bias is nonzero ONLY on the seed cohort; r20
      // (guide §1.2/§2.4): the per-round stitch used to be TWO
      // node-table joins per round (ranks ⋈ deg to form give, then
      // got ⋈ seed set for the teleport). Folding the seed flag into
      // ONE static (node, d, is_seed) table and carrying d on the
      // persisted rank frame makes give a node-local select and the
      // round's only node-table join the degTele attach — identical
      // integer arithmetic per round (r div d, 85·got div 100,
      // teleport when(is_seed)), just fewer joins/broadcast builds.
      val degTele = deg
        .join(graft.ops.Hints.broadcastIfSmall(
            seeds.select($"node".as("bnode"))
              .withColumn("is_seed", lit(1L)), ns),
          $"src" === $"bnode", "left")
        .select($"src", $"d",
          coalesce($"is_seed", lit(0L)).as("is_seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val b = (15L * Scale) / (100L * ns)
      var ranks = degTele
        .select($"src".as("node"),
          when($"is_seed" === 1L, lit(Scale / ns)).otherwise(0L)
            .as("r"), $"d")
      var prev: Option[DataFrame] = None
      for (_ <- 1 to 5) {
        val give = ranks.select($"node", expr("r div d").as("give"))
        val next = edges
          .join(graft.ops.Hints.broadcastIfSmall(give, n),
            $"src" === $"node")
          .groupBy($"dst").agg(sum($"give").as("got"))
          .join(graft.ops.Hints.broadcastIfSmall(degTele, n),
            $"dst" === $"src")
          .select($"dst".as("node"),
            (when($"is_seed" === 1L, lit(b)).otherwise(0L)
              + expr("85 * got div 100")).as("r"), $"d")
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        prev.foreach(_.unpersist(false))
        prev = Some(next)
        ranks = next
      }
      ranks
        .select(when($"node" % 2 === 0,
            concat(lit("c"), expr("node div 2").cast("string")))
          .otherwise(
            concat(lit("s"), expr("(node - 1) div 2").cast("string")))
          .as("node"),
          $"r".as("ppr_scaled"))
        .orderBy($"ppr_scaled".desc, $"node").limit(100)
    }),

    // Triangle counting over the part co-occurrence graph (two parts
    // are adjacent when they ship in the same order) — the
    // clustering/community primitive a curation pipeline runs to find
    // tightly-coupled source groups. All-integer → hash-exact oracle.
    //
    // 100 TB shape: degree-oriented adjacency intersection. Every
    // undirected edge is ORIENTED from its lower-(degree, id)
    // endpoint to the higher one; a triangle {x,y,z} then closes at
    // exactly one edge (u,v) as the non-empty intersection
    // N⁺(u) ∩ N⁺(v). Orientation is the load-bearing trick: a
    // degree-d hub generates O(d²) wedges unoriented but only
    // O(α·d) oriented (its out-degree is bounded by the arboricity —
    // Chiba–Nishizeki), so out-neighbor lists stay array-sized under
    // power-law skew. Intersecting per-edge sorted arrays beats the
    // naive wedge self-join by the wedge/triangle ratio (at sf0.1:
    // 41M wedges vs 1.9M triangles — the join materialized every
    // wedge as a row through two hash probes; the intersection
    // touches them as array elements inside one codegen stage and
    // only triangles become rows). Per-order pair expansion is
    // bounded by order width (TPC-H ≤7 items), never corpus-sized.
    // Each triangle is found exactly once (its unique min-(deg,id)
    // vertex is the only one with out-edges to both others), then
    // exploded to per-node counts.
    "q72_triangle_count" -> ((s, d) => {
      import s.implicits._
      triangleCountsWithDeg(s, d)
        .filter($"n_triangles" > 0)
        .select($"p_partkey", $"n_triangles")
        .orderBy($"n_triangles".desc, $"p_partkey")
        .limit(100)
    }),

    // HITS hub/authority scores (Kleinberg) on the bipartite
    // customer→supplier trade graph — 3 synchronous rounds, top-20
    // each side: the mutually-recursive centrality ("good buyers buy
    // from good suppliers") PageRank's single score can't express on
    // a bipartite graph. Cross-engine determinism rides q62's
    // scaled-long discipline PLUS an overflow-safe re-normalization:
    // score·S div Σ would overflow BIGINT, so each round divides the
    // NORMALIZER down first (q = Σ div S, then score div q) — every
    // intermediate stays ≤ maxdeg·S, and the integer truncation
    // sequence replays identically in the unrolled-CTE oracle. Init
    // is L1-normalized (h = S div n_hubs), so round-1 masses obey
    // the same bound. Per round: one size-gated-broadcast(node-sized
    // scores) join + one map-side-collapsed groupBy exchange per
    // direction, materialized per round (the q62 lineage discipline).
    "q138_hits" -> ((s, d) => {
      import s.implicits._
      val li = Tables.load(s, d, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ord = Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey")
      // multi-edges kept: trade-volume weighting, q62's stance
      val edges = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("p"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the distinct-hub frame seeds round 1 AND yields the node
      // count — persist so the init scan isn't replayed inside
      // round 1's join
      val hubs0 = edges.select($"c").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nHubs = hubs0.count() // driver scalar
      var hubs = hubs0.select($"c", lit(Scale / nHubs).as("h"))
      var hubRows = nHubs
      var auths: DataFrame = null
      // ONE blocking job per direction per round: the raw aggregate's
      // agg fetches the normalizer mass AND the row count (the
      // broadcast-gate scalar) together, and the rescaled projection
      // reads the CACHED raw frame through a LogicalRDD rebase (the
      // q75 lineage discipline — round k+1's logical plan must not
      // nest round k's, or Catalyst analyze time doubles per round).
      // That cuts r15's 4 persists + nested plans per round to 2
      // persists per round with flat plans; the normalizer fetches
      // stay serially dependent by the integer semantics (qa feeds
      // a, a feeds rawH — VERDICT r15 adjudicated the dependency).
      // Round k−1's caches release as soon as round k materializes.
      var prevA: Option[DataFrame] = None
      var prevH: Option[DataFrame] = None
      for (_ <- 1 to 3) {
        val rawA = edges
          .join(graft.ops.Hints.broadcastIfSmall(hubs, hubRows), Seq("c"))
          .groupBy($"p").agg(sum($"h").as("ra"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // clamp ≥1 (r9 advice): h0 = Scale div nHubs truncates, so a
        // degenerate graph (every hub degree 1, nHubs near Scale)
        // could push the round's aggregate mass below Scale and floor
        // the normalizer to 0 — `div 0` then throws instead of
        // degrading. Oracle applies the same greatest(..., 1).
        val ar = rawA.agg(sum($"ra"), count(lit(1))).head
        val qa = math.max(ar.getLong(0) / Scale, 1L)
        val aRows = ar.getLong(1)
        val a = s.createDataFrame(rawA.rdd, rawA.schema)
          .select($"p", expr(s"ra div ${qa}L").as("a"))
        val rawH = edges
          .join(graft.ops.Hints.broadcastIfSmall(a, aRows), Seq("p"))
          .groupBy($"c").agg(sum($"a").as("rh"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val hr = rawH.agg(sum($"rh"), count(lit(1))).head
        val qh = math.max(hr.getLong(0) / Scale, 1L)
        hubRows = hr.getLong(1)
        val h = s.createDataFrame(rawH.rdd, rawH.schema)
          .select($"c", expr(s"rh div ${qh}L").as("h"))
        prevA.foreach(_.unpersist(false)); prevA = Some(rawA)
        prevH.foreach(_.unpersist(false)); prevH = Some(rawH)
        hubs = h; auths = a
      }
      val top = auths.select(lit("auth").as("side"),
          concat(lit("s"), $"p".cast("string")).as("node"),
          $"a".as("score"))
        .unionAll(hubs.select(lit("hub").as("side"),
          concat(lit("c"), $"c".cast("string")).as("node"),
          $"h".as("score")))
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy($"side").orderBy($"score".desc, $"node")
      top.withColumn("rank", row_number().over(wS).cast("long"))
        .filter($"rank" <= 20)
        .select($"side", $"rank", $"node", $"score")
        .orderBy($"side", $"rank")
    }),

    // Local clustering coefficient per node: tri(v) / C(deg(v), 2) —
    // "how close is each part's neighborhood to a clique", the
    // community-density read on top of q72's raw triangle counts
    // (Watts–Strogatz). Shares the degree-oriented intersection
    // machinery with q72 ([[triangleCountsWithDeg]]): the per-node
    // triangle attribution is the same explode, and the coefficient
    // is ONE IEEE divide of exact longs (2·tri / deg·(deg−1)) — no
    // float fold, so the cross-engine ordering is deterministic.
    // Nodes below deg 2 have no defined coefficient (C(deg,2)=0) and
    // are excluded as a semantics, not a display choice.
    "q109_clustering_coeff" -> ((s, d) => {
      import s.implicits._
      triangleCountsWithDeg(s, d)
        .filter($"deg" >= 2)
        .withColumn("coeff",
          ($"n_triangles" * 2).cast("double") /
            ($"deg" * ($"deg" - 1)).cast("double"))
        .select($"p_partkey", $"deg", $"n_triangles", $"coeff")
        .orderBy($"coeff".desc, $"p_partkey")
        .limit(100)
    }),

    // k-core decomposition (k = 80) of the part co-occurrence graph —
    // the density tier above triangle counting: the maximal subgraph
    // where every node keeps ≥ k neighbors INSIDE the subgraph, the
    // standard "dense interaction core vs loosely attached periphery"
    // cut (Seidman 1983). Iterative peeling: drop nodes under k,
    // recount, repeat — each removal can cascade (measured: 6 rounds
    // to fixpoint at both sf0.01 and sf0.1; k=80 sits inside the
    // degree distribution, so the peel genuinely cascades rather than
    // terminating trivially).
    //
    // Determinism contract with the oracle: Spark peels to FIXPOINT
    // (driver checks the survivor count each round — one scalar, like
    // pagerankFull's node count); the oracle unrolls 10 rounds, and
    // since peeling is monotone (alive sets only shrink) any unroll
    // depth ≥ the fixpoint round replays the fixpoint exactly — extra
    // rounds are no-ops. If the data ever changed enough to push the
    // fixpoint past 10 rounds, the driver's hash compare itself goes
    // red — the gate is the margin check. GraphSpec independently
    // brute-forces the peel (k=65 at sf0.001, where the cascade is
    // nontrivial) and compares exactly.
    //
    // 100 TB shape: the edge list is built once, persisted, and never
    // re-shuffled; `alive` is node-sized (≪ edges) and travels as a
    // SIZE-GATED broadcast semi-join to both endpoints (past the gate
    // the rounds shuffle on the endpoint keys); a round's only exchange
    // is the groupBy(src) count — (long, long) partials, map-side
    // combined. Rounds are job-count-bound like pagerank's — the
    // per-round cost is one broadcast + one narrow shuffle, and the
    // round count is a graph property (the peel depth), not a data
    // size: it was 6 at both test scales.
    "q75_kcore" -> ((s, d) => kcoreAt(s, d, 80)),

    // Degree-distribution profile of the co-occurrence graph —
    // log2-bucketed degree histogram plus per-bucket degree bounds,
    // the diagnostic read before choosing graph-algorithm parameters
    // (q75's k, broadcast thresholds, skew salting): a heavy power-law
    // tail means the orientation/broadcast design decisions actually
    // bind. Two map-side-combined aggregates over the persisted edge
    // list (degree count, then bucket rollup) — no joins, no windows;
    // log2 via integer bit-length arithmetic (floor(log2(d)) =
    // bit_length(d) − 1, exact on both engines).
    "q90_graph_profile" -> ((s, d) => {
      import s.implicits._
      val e = coOccurrenceEdges(s, d)
      val deg = e.select($"a".as("n")).unionAll(e.select($"b".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
      deg
        .withColumn("bucket",
          (length(bin($"deg")) - 1).cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_nodes"),
          min($"deg").as("min_deg"), max($"deg").as("max_deg"),
          sum($"deg").as("sum_deg"))
        .orderBy($"bucket")
    }),

    // Average neighbor degree by degree bucket — k_nn(k), the CURVE
    // behind q100's scalar assortativity (a rising curve = hubs
    // prefer hubs; falling = hub-and-spoke): the read that says which
    // end of the degree distribution a skew-mitigation (salting,
    // broadcast thresholds) must actually target. One symmetric edge
    // expansion, two node-sized broadcast degree joins, then a
    // log2-bucket rollup (q90's bin-length trick) — neighbor-degree
    // mass and endpoint counts stay EXACT longs, the average is one
    // IEEE divide per bucket row.
    "q131_avg_neighbor_degree" -> ((s, d) => {
      import s.implicits._
      val e = coOccurrenceEdges(s, d)
      val sym = e.select($"a".as("src"), $"b".as("dst"))
        .unionAll(e.select($"b".as("src"), $"a".as("dst")))
      // persisted so the gate's one count job is a cache scan and the
      // two gated joins read the same materialization
      val deg = sym.groupBy($"src").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nNodes = deg.count() // driver scalar: the broadcast gate
      avgNeighborDegreeBuckets(sym
        .join(graft.ops.Hints.broadcastIfSmall(deg, nNodes), Seq("src"))
        .join(graft.ops.Hints.broadcastIfSmall(
          deg.select($"src".as("dst"), $"deg".as("nbr_deg")), nNodes),
          Seq("dst")))
    }),

    // Degree assortativity: Pearson correlation of endpoint degrees
    // over every (symmetric) edge — do hubs link to hubs (r > 0,
    // social-network shape) or to leaves (r < 0, internet/biology
    // shape)? The single number that says which skew regime the
    // graph's joins will face. Moments (n, Σx, Σy, Σxy, Σx², Σy²)
    // are exact; unlike q149's value-domain-bounded products, degree
    // products are DATA-dependent (two 10⁶-degree hubs meeting on
    // 10⁹ edges pass 2^63), so the moment pass uses the q25
    // momentStats discipline (r11 verdict item #4): long partials
    // through try_sum/try_multiply with overflow counters, and a
    // decimal(38,0) retry only when a counter fires — the corpus-
    // sized scan pays primitive-long codegen except in the overflow
    // regime. Cross-terms (n·Σxy − Σx·Σy…) assemble EXACTLY in
    // decimal before the one double conversion, matching the
    // oracle's HUGEINT assembly digit-for-digit. Degrees broadcast
    // onto both endpoints of the persisted edge list; the moment
    // reduce is one map-side-combined 1-row aggregate.
    "q100_assortativity" -> ((s, d) => {
      import s.implicits._
      val e = coOccurrenceEdges(s, d)
      val ed = e.select(explode(array(
          struct($"a".as("u"), $"b".as("v")),
          struct($"b".as("u"), $"a".as("v")))).as("e"))
        .select($"e.u", $"e.v")
      val deg = ed.groupBy($"u").agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nNodes = deg.count() // driver scalar: the broadcast gate
      assortativityFromDxDy(ed
        .join(graft.ops.Hints.broadcastIfSmall(
          deg.select($"u", $"deg".as("dx")), nNodes), Seq("u"))
        .join(graft.ops.Hints.broadcastIfSmall(
          deg.select($"u".as("v"), $"deg".as("dy")), nNodes), Seq("v"))
        .select($"dx", $"dy"))
    }),

    // Single-source weighted shortest paths (4 relaxation rounds) —
    // the DISTANCE primitive completing the graph family (PageRank =
    // centrality, CC = membership, triangles/k-core = density). Edge
    // weight is affinity-derived in exact integers: frequently
    // co-shipped part pairs are "closer" (w = 1 + 1000 div n_ab —
    // monotone, integer div on both engines). Bellman-Ford in the
    // min-plus semiring: each round relaxes every edge once —
    // dist' = min(dist, min_incoming(dist_u + w)) — so round r holds
    // exact shortest distances over paths of ≤ r edges: a FIXED round
    // count is a well-defined semantics (not an approximation
    // artifact), which is what lets the oracle unroll the identical
    // four rounds. 100 TB shape follows pagerankFull: the weighted
    // edge list is built once and persisted; the distance table is
    // node-sized and travels as a size-gated broadcast; a round's only
    // exchange
    // is the groupBy(dst) min-combine — (long, long) pairs, map-side
    // collapsed. Rounds rebase onto their materialized RDD (q75's
    // lineage lesson) and unpersist round k−1 after materializing k.
    "q87_shortest_path" -> ((s, d) => {
      import s.implicits._
      // edge weights from the SESSION-SHARED pair-count frame — the
      // (ok,pk)-distinct is already inside its collect_set
      val counts = coOccurrencePairCounts(s, d)
      val wEdges = counts
        .withColumn("w", lit(1L) + expr("1000 div n_ab"))
        .select(explode(array(
          struct($"a".as("src"), $"b".as("dst"), $"w"),
          struct($"b".as("src"), $"a".as("dst"), $"w"))).as("e"))
        .select($"e.src", $"e.dst", $"e.w")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // source = the lowest part id in the graph (a < b in every
      // pair, so min(a) suffices); one driver scalar, the q31 pattern
      val source = wEdges.agg(min($"src")).head.getLong(0)
      var dist = wEdges.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0L).as("dist"))
      var distRows = 1L // broadcast-gate scalar, refreshed per round
      var prev: Option[DataFrame] = None
      for (_ <- 1 to 4) {
        val relaxed = wEdges
          .join(graft.ops.Hints.broadcastIfSmall(dist, distRows),
            $"src" === $"node")
          .select($"dst".as("node"), ($"dist" + $"w").as("cand"))
          .unionByName(dist.select($"node", $"dist".as("cand")))
          .groupBy($"node").agg(min($"cand").as("dist"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        distRows = relaxed.count()
        val flat = s.createDataFrame(relaxed.rdd, relaxed.schema)
        prev.foreach(_.unpersist(false))
        prev = Some(relaxed)
        dist = flat
      }
      dist.select($"node".as("p_partkey"), $"dist")
        .orderBy($"dist", $"p_partkey").limit(100)
    }),

    // Label-propagation communities (real LPA, not min-label CC —
    // that's dedup_clusters' machinery): 4 SYNCHRONOUS rounds where
    // each node adopts the most frequent label among its neighbors,
    // ties broken by smallest label — a total order, so the rounds
    // replay identically in the oracle's unrolled CTE chain. The
    // label frame itself is SESSION-SHARED via [[lpaLabels]] (r11
    // verdict item #5): q158_modularity scores the identical
    // partition, and both replaying the 4-round loop doubled ~150 s
    // of fleet cpu for byte-identical labels.
    "q101_label_propagation" -> ((s, d) => {
      import s.implicits._
      lpaLabels(s, d).groupBy($"lab".as("community"))
        .agg(count(lit(1)).as("n_members"),
          min($"node").as("min_node"), max($"node").as("max_node"))
        .orderBy($"community")
    }),

    // Common-neighbor link prediction: top-50 NON-adjacent part pairs
    // by neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — "what
    // co-occurrence edge will appear next". Candidate pairs come ONLY
    // from wedges (two nodes sharing a neighbor), never from a node
    // cross-join; wedge centers are capped at degree ≤ 64 (the
    // stop-word discipline: a hub center contributes Σdeg² wedge
    // pairs and near-zero signal — a documented SEMANTIC cap the
    // oracle replicates, not a sampling shortcut). Scoring degrees
    // are the FULL degrees; the anti-join removes existing edges on
    // the pair key. All shuffles are edge- or wedge-sized.
    "q108_link_prediction" -> ((s, d) => {
      import s.implicits._
      val e = coOccurrencePairCounts(s, d).select($"a", $"b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sym = e.select(explode(array(
          struct($"a".as("src"), $"b".as("dst")),
          struct($"b".as("src"), $"a".as("dst")))).as("x"))
        .select($"x.src", $"x.dst")
      val deg = sym.groupBy($"src".as("node"))
        .agg(count(lit(1)).as("deg"))
      // the degree cap applies BEFORE the neighbor collect (r11
      // CollectGuard discipline): sym has no duplicate (src,dst) —
      // e is distinct pairs — so deg == size(collect_set) and the
      // pre-join is exactly the old post-collect size filter, but a
      // hub never buffers its full adjacency (buffer ≤ 64 rows by
      // construction); the deg join co-partitions with the groupBy
      val cn = sym
        .join(deg.filter($"deg" <= 64).select($"node".as("src")),
          Seq("src"))
        .groupBy($"src")
        .agg(sort_array(collect_set($"dst")).as("ns"))
        .select(explode(expr(
          """flatten(transform(ns, (x, i) ->
             transform(slice(ns, i + 2, size(ns)),
               y -> struct(x AS a, y AS b))))""")).as("w"))
        .groupBy($"w.a".as("a"), $"w.b".as("b"))
        .agg(count(lit(1)).as("cn"))
      cn.join(e, Seq("a", "b"), "left_anti")
        .join(deg.select($"node".as("a"), $"deg".as("da")), Seq("a"))
        .join(deg.select($"node".as("b"), $"deg".as("db")), Seq("b"))
        .select($"a", $"b", $"cn", $"da", $"db",
          round($"cn".cast("double") /
            ($"da" + $"db" - $"cn").cast("double"), 4).as("score"))
        .orderBy(desc("score"), $"a", $"b").limit(50)
    }),

  )

  /** The k-core peel at a caller-chosen k — the registered query is
    * k=80 (cascades at sf0.01/sf0.1); GraphSpec brute-force-compares
    * k=65 on sf0.001, where 80 peels the whole graph away.
    */
  def kcoreAt(s: org.apache.spark.sql.SparkSession, d: String, k: Int)
      : DataFrame = {
    {
      import s.implicits._
      val e = coOccurrenceEdges(s, d)
      // symmetric directed view: degree of n = out-edges of n
      val ed = e.select(explode(array(
          struct($"a".as("src"), $"b".as("dst")),
          struct($"b".as("src"), $"a".as("dst")))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var alive = ed.select($"src".as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var n = alive.count()
      var deg: DataFrame = null
      var prev: Option[DataFrame] = None
      var stable = false
      var rounds = 0
      while (!stable && rounds < 30) {
        val dn0 = ed
          .join(graft.ops.Hints.broadcastIfSmall(alive, n),
            $"src" === $"node").drop("node")
          .join(graft.ops.Hints.broadcastIfSmall(
            alive.withColumnRenamed("node", "nd"), n),
            $"dst" === $"nd").drop("nd")
          .groupBy($"src").agg(count(lit(1)).as("core_deg"))
          .filter($"core_deg" >= k)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val m = dn0.count() // driver scalar; materializes dn0 so its
        // input (last round's cached frame) can be released NOW —
        // pagerankFull's round discipline
        // REBASE the round result onto its materialized RDD (a flat
        // LogicalRDD leaf reading the cached blocks). Without this the
        // next round's LOGICAL plan embeds this round's twice (alive
        // joins both endpoints), so plan size — and Catalyst
        // analyze/optimize time — doubles per round: the exact 2^r
        // blow-up the oracle dodges with MATERIALIZED CTE hints.
        // Measured: 42 s → ~10 s at sf0.1 (rounds were 1,1,1,3,16 s —
        // pure driver planning, the executors were idle). Same
        // rebase-to-RDD discipline as ops.PrefixSum's job B.
        val dn = s.createDataFrame(dn0.rdd, dn0.schema)
        prev.foreach(_.unpersist(false))
        if (rounds == 0) alive.unpersist(false)
        prev = Some(dn0)
        deg = dn
        if (m == n) stable = true
        else { alive = dn.select($"src".as("node")); n = m }
        rounds += 1
      }
      // at fixpoint `deg` IS the answer: survivors with their
      // within-core degrees (all ≥ k by the filter)
      deg.select($"src".as("p_partkey"), $"core_deg")
        .orderBy($"p_partkey")
    }
  }

  /** Scratch-parquet paths of materialized pair-count frames, one per
    * dataset dir per JVM (round-9 verdict item #2). */
  private val pairCountPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One scratch-parquet label table per dataset dir per JVM —
    * [[lpaLabels]]'s twin of [[pairCountPaths]]. */
  private val lpaLabelPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The 4-round synchronous LPA label frame (node, lab) over the
    * co-occurrence graph — q101's loop, factored out because
    * q158_modularity scores the IDENTICAL partition: before sharing,
    * both queries replayed the full loop from scratch (~150 s
    * combined cpu per fleet run, the r11 verdict's watch item). Per
    * round: one edge⋈labels broadcast join (labels are node-sized),
    * a (dst, label) count agg, the argmax as max(struct(count,
    * −label)) — map-side-collapsible, no per-node window — and a
    * LogicalRDD rebase (the q75/q87 lineage discipline).
    *
    * MATERIALIZED ONCE PER SESSION to scratch parquet, exactly like
    * [[coOccurrencePairCounts]]: the 100 TB user computes communities
    * once and points every downstream scorer at the label table.
    */
  def lpaLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    def build: DataFrame = {
      val sym = coOccurrencePairCounts(s, d)
        .select(explode(array(
          struct($"a".as("src"), $"b".as("dst")),
          struct($"b".as("src"), $"a".as("dst")))).as("e"))
        .select($"e.src", $"e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = sym.select($"src".as("node")).distinct()
        .select($"node", $"node".as("lab"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var nLabels = labels.count() // broadcast-gate scalar
      var prev: Option[DataFrame] = Some(labels)
      for (_ <- 1 to 4) {
        val updated = sym
          .join(graft.ops.Hints.broadcastIfSmall(labels, nLabels),
            $"src" === $"node")
          .groupBy($"dst", $"lab").agg(count(lit(1)).as("c"))
          .groupBy($"dst")
          .agg(max(struct($"c", (-$"lab").as("nl"))).as("m"))
          .select($"dst".as("node"), (-$"m.nl").as("lab"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        nLabels = updated.count()
        val flat = s.createDataFrame(updated.rdd, updated.schema)
        prev.foreach(_.unpersist(false))
        prev = Some(updated)
        labels = flat
      }
      labels
    }
    val path = lpaLabelPaths.computeIfAbsent(d, _ => {
      val p = graft.ScratchDir.path(
        "lpa-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
      build.write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Co-occurrence pair counts of the part graph — (a, b, n_ab) with
    * a < b, where n_ab = number of orders shipping both parts. The
    * single corpus-derived frame under the whole graph family:
    * q72/q75/q90/q100 project its (a, b) edge set, q87 derives edge
    * weights from n_ab, q78 prunes it by support.
    *
    * Per-order pair expansion via one groupBy + HOF comprehension:
    * the naive li⋈li self-join shuffles the token stream twice and
    * hash-probes every pair into existence; collect_set + the nested
    * transform generates the same a<b pairs inside a single codegen
    * stage off ONE narrow shuffle of (order, part) longs. Order width
    * is bounded (TPC-H ≤7 items), so the per-group array and its
    * k(k-1)/2 expansion are constant-sized.
    *
    * MATERIALIZED ONCE PER SESSION: the first caller writes the frame
    * to scratch parquet (keyed by dataset dir); every later graph
    * query reads the file back instead of re-running the
    * lineitem-sized expansion — six queries paid the identical ~4 s
    * build independently before this (the bench clears the cache
    * between queries by design, so a persist can't carry it). This is
    * what a 100 TB user does: build the edge table once, point every
    * graph job at it.
    */
  def coOccurrencePairCounts(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    def build: DataFrame = Tables.load(s, d, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .groupBy($"ok")
      .agg(sort_array(collect_set($"pk")).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
           transform(slice(ps, i + 2, size(ps)),
             y -> struct(x AS a, y AS b))))""")).as("e"))
      .groupBy($"e.a".as("a"), $"e.b".as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val path = pairCountPaths.computeIfAbsent(d, _ => {
      val p = graft.ScratchDir.path(
        "cooc-" + d.replaceAll("[^A-Za-z0-9._-]", "_"))
      build.write.mode("overwrite").parquet(p)
      p
    })
    // persist the read-back: queries read the edge set several
    // times within one plan (degrees + both join sides), and a
    // cached node/edge-sized frame beats repeated file scans; the
    // per-query clearCache releases it
    s.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** q131's log2-bucket rollup, factored so MomentWidthSpec can
    * drive it at the documented width bound. Input: one row per
    * symmetric edge endpoint with long columns (src, deg, nbr_deg).
    * The mass column stays an EXACT long (no escalation wired): its
    * output dtype is part of the oracle contract, and the bound is
    * value-domain arguable — Σnbr_deg per bucket ≤ E·D_max, which at
    * 10¹² edges × 10⁶ max degree sits at 10¹⁸ < 2^63. Past that the
    * ANSI sum fails LOUD (spec-pinned), never wraps silently.
    */
  private[queries] def avgNeighborDegreeBuckets(joined: DataFrame)
      : DataFrame = {
    val s = joined.sparkSession
    import s.implicits._
    joined
      .withColumn("bucket", (length(bin($"deg")) - 1).cast("long"))
      .groupBy($"bucket")
      .agg(countDistinct($"src").as("n_nodes"),
        count(lit(1)).as("n_endpoints"),
        sum($"nbr_deg").as("nbr_deg_mass"))
      .select($"bucket", $"n_nodes", $"n_endpoints",
        $"nbr_deg_mass",
        round($"nbr_deg_mass".cast("double") /
          $"n_endpoints".cast("double"), 4).as("avg_nbr_deg"))
      .orderBy($"bucket")
  }

  /** q100's moment pass + Pearson assembly, factored so
    * MomentWidthSpec can drive it with degree pairs past the 64-bit
    * product ceiling. Input: one row per directed edge with long
    * columns (dx, dy) — the endpoint degrees, non-null by
    * construction. Long partials through try_sum/try_multiply with an
    * overflow counter; a decimal(38,0) recompute only when it fires
    * (the q25 momentStats detection-not-prewidening discipline —
    * VERDICT r7 #4 measured the always-decimal corpus pass at 15×).
    * Both paths finalize through the same decimal-typed 1-row frame,
    * so rounding semantics cannot diverge between them.
    */
  private[queries] def assortativityFromDxDy(dd: DataFrame)
      : DataFrame = {
    val s = dd.sparkSession
    import s.implicits._
    val dec = "decimal(38,0)"
    val tm = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) => try_multiply(a, b)
    val r = dd.agg(
      count(lit(1)).as("n"),
      try_sum($"dx").as("sx"), try_sum($"dy").as("sy"),
      try_sum(tm($"dx", $"dy")).as("sxy"),
      try_sum(tm($"dx", $"dx")).as("sxx"),
      try_sum(tm($"dy", $"dy")).as("syy"),
      sum(when(tm($"dx", $"dy").isNull || tm($"dx", $"dx").isNull ||
        tm($"dy", $"dy").isNull, 1L).otherwise(0L)).as("bad"))
      .collect().head
    val n = r.getAs[Long]("n")
    // empty edge set: every sum is NULL — short-circuit to an
    // explicit null-assortativity row instead of letting
    // getAs[Long] unbox those NULLs to 0 (ADVICE r12)
    if (n == 0)
      return Seq(0L).toDF("n")
        .select($"n", lit(null).cast("double").as("assortativity"))
    // degrees are never null, so any null sum with n > 0 rows (or a
    // fired product counter) means 64-bit overflow
    val overflow = r.getAs[Long]("bad") > 0 ||
      (n > 0 && (1 to 5).exists(r.isNullAt)) // fields sx..syy
    val moments =
      if (overflow)
        dd.select($"dx".cast(dec).as("dx"), $"dy".cast(dec).as("dy"))
          .agg(count(lit(1)).cast(dec).as("n"),
            sum($"dx").as("sx"), sum($"dy").as("sy"),
            sum($"dx" * $"dy").as("sxy"),
            sum($"dx" * $"dx").as("sxx"),
            sum($"dy" * $"dy").as("syy"))
      else
        Seq((n, r.getAs[Long]("sx"), r.getAs[Long]("sy"),
          r.getAs[Long]("sxy"), r.getAs[Long]("sxx"),
          r.getAs[Long]("syy")))
          .toDF("n", "sx", "sy", "sxy", "sxx", "syy")
          .select(col("n").cast(dec), col("sx").cast(dec),
            col("sy").cast(dec), col("sxy").cast(dec),
            col("sxx").cast(dec), col("syy").cast(dec))
    moments.select($"n".cast("long").as("n"),
      Tables.nz(round(
        ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
            ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 4))
        .as("assortativity"))
  }

  /** Distinct undirected co-occurrence edges (a < b) — the unweighted
    * projection of [[coOccurrencePairCounts]], shared by q72
    * (triangles), q75 (k-core), q90 (profile), q100 (assortativity).
    */
  private def coOccurrenceEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    coOccurrencePairCounts(s, d).select($"a", $"b")
  }

  /** Per-node degree + triangle count over the co-occurrence graph —
    * the degree-oriented adjacency-intersection kernel shared by q72
    * (raw counts) and q109 (clustering coefficient). Returns one row
    * per node (zero-triangle nodes included via the left join).
    *
    * 100 TB shape (q72's original design, unchanged by the refactor):
    * every undirected edge is ORIENTED from its lower-(degree, id)
    * endpoint, so a degree-d hub keeps O(α·d) oriented wedges instead
    * of O(d²) (arboricity bound, Chiba–Nishizeki). The degree table
    * is row-gated on the node count
    * ([[graft.ops.Hints.broadcastIfSmall]]) and the adjacency table
    * BYTE-gated ([[graft.ops.Hints.broadcastIfSmallBytes]], r16
    * verdict item #2) on its estimated payload — ΣA = |oriented
    * edges| longs plus per-row headers, since rows would under-count
    * an array column's bytes — below the gates the joins are
    * map-side; above them the hint is not applied and the planner
    * shuffles on u / v, which is the behavior a raw hint only
    * pretended to have (r15 verdict item #1). The orientation bound
    * (not the join strategy) is what keeps individual arrays small.
    * Each triangle closes at exactly one oriented edge as
    * N⁺(u) ∩ N⁺(v), so one explode of [u×|ws|, v×|ws|, ws] yields
    * the 3·T per-node attributions with no triangle-row intermediate.
    */
  private def triangleCountsWithDeg(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = coOccurrenceEdges(s, d)
    val deg = e.select($"a".as("n")).unionAll(e.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
      // feeds three consumers (both orientation sides + the final
      // left join); node-sized, so the persist is cheap
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = deg.count() // driver scalar: the degree-table gate
    // orient by (degree, id): lower endpoint points to higher
    val o = e
      .join(graft.ops.Hints.broadcastIfSmall(
        deg.select($"n".as("a"), $"deg".as("da")), nNodes), Seq("a"))
      .join(graft.ops.Hints.broadcastIfSmall(
        deg.select($"n".as("b"), $"deg".as("db")), nNodes), Seq("b"))
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("u"), $"b".as("v")))
          .otherwise(struct($"b".as("u"), $"a".as("v"))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // gate the ADJACENCY broadcast on its PAYLOAD BYTES, not rows
    // (r16 verdict item #2): adj's payload is ΣA = |oriented edges|
    // array elements — a graph under any row gate but with high
    // average degree would still broadcast O(|E|) bytes. Σ size(nbr)
    // = nOriented exactly (each oriented edge lands in one list), so
    // the element count is a driver scalar already in hand; estimate
    // 8 B/long element + ~32 B/row of UnsafeRow/array headers. o
    // feeds two joins below anyway, so its count materializes a due
    // cache. The node-sized degree frames above keep the ROW gate.
    val nOriented = o.count()
    val adjBytes = nOriented * 8L + nNodes * 32L
    val adj = o.groupBy($"u")
      .agg(sort_array(collect_list($"v")).as("nbr"))
      // both broadcast sides project adj DIFFERENTLY (u vs renamed
      // v), so exchange reuse can't kick in — without the persist
      // the collect_list aggregation runs twice
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager fill (r20, the kmv discipline): the two broadcast builds
    // below are CONCURRENT futures — persisted but unfilled, they
    // still raced to compute the collect_list aggregation twice
    adj.count()
    val tri = o
      .join(graft.ops.Hints.broadcastIfSmallBytes(
        adj.select($"u", $"nbr".as("nu")), adjBytes), Seq("u"))
      .join(graft.ops.Hints.broadcastIfSmallBytes(
        adj.select($"u".as("v"), $"nbr".as("nv")), adjBytes), Seq("v"))
      .select($"u", $"v", array_intersect($"nu", $"nv").as("ws"))
      .filter(size($"ws") > 0)
    val counts = tri.select(explode(concat(
        array_repeat($"u", size($"ws")),
        array_repeat($"v", size($"ws")),
        $"ws")).as("p_partkey"))
      .groupBy($"p_partkey")
      .agg(count(lit(1)).as("n_triangles"))
    deg.select($"n".as("p_partkey"), $"deg")
      .join(counts, Seq("p_partkey"), "left")
      .select($"p_partkey", $"deg",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
  }

  /** Full 5-round rank table (long node ids, scaled-long ranks) —
    * the registered query is its top-100 display cut; GraphSpec sums
    * THIS frame for the untruncated mass-conservation check.
    */
  def pagerankFull(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    {
      import s.implicits._
      val li = Tables.load(s, d, "lineitem")
        .select($"l_orderkey", $"l_suppkey")
      val ord = Tables.load(s, d, "orders")
        .select($"o_orderkey", $"o_custkey")
      // nodes are LONGS on the hot path (even = customer 2k, odd =
      // supplier 2k+1): five rounds of hash-shuffles on a long key
      // beat string keys; the display string materializes only in the
      // final 100-row projection. MULTI-edges are kept (one edge per
      // lineitem): rank flow is trade-volume-weighted, and skipping
      // the dedup saves a full shuffle of the edge list. Symmetrize
      // with ONE explode pass — a union with the swapped projection
      // would re-execute the build subtree. No repartition: the
      // per-round join is a SIZE-GATED broadcast (node table ≪ edges
      // at every tested scale), so the only shuffle an iteration needs
      // is the groupBy(dst) partial-agg exchange; past the row gate
      // the hint is not applied and the round joins shuffle on src —
      // the real degradation path (Hints.broadcastIfSmall, r15 #1).
      val edges = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("src"),
          ($"l_suppkey" * 2 + 1).as("dst"))
        .select(explode(array(
          struct($"src", $"dst"),
          struct($"dst".as("src"), $"src".as("dst")))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = deg.count() // driver scalar: node count
      val base = (15L * Scale) / (100L * n) // (1-d)/N teleport term
      var ranks = deg.select($"src".as("node"), lit(Scale / n).as("r"))
      var prev: Option[DataFrame] = None
      for (_ <- 1 to 5) {
        // give = r div outdeg, attached node-locally; the edge join is
        // map-side (broadcast), only (dst, give) longs shuffle
        val give = ranks.join(deg, ranks("node") === deg("src"))
          .select($"node", expr("r div d").as("give"))
        val next = edges
          .join(graft.ops.Hints.broadcastIfSmall(give, n),
            $"src" === $"node")
          .groupBy($"dst").agg(sum($"give").as("got"))
          .select($"dst".as("node"),
            (lit(base) + expr("85 * got div 100")).as("r"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // materialize NOW so iteration k+1's broadcast reads a cached
        // node-sized table instead of re-deriving the whole nested
        // lineage (5 rounds of lazy plans re-execute triangularly —
        // measured 8.7 s vs 3.5 s at sf0.1); then drop round k-1
        next.count()
        prev.foreach(_.unpersist(false))
        prev = Some(next)
        ranks = next
      }
      ranks
    }
  }

  def oracles: Map[String, String] = Map(

    // 10 unrolled peel rounds ≥ the 6-round fixpoint at both test
    // scales (GraphSpec pins the margin); extra rounds are no-ops
    // because the alive set is already stable. Every CTE is
    // MATERIALIZED: DuckDB inlines CTEs by default, and each round
    // references its predecessor TWICE (the two IN subqueries), so
    // inlining makes the 10-round chain expand 2^10 copies of the
    // whole edge build — the un-hinted form ran >12 min at sf0.01;
    // materialized it's sub-second.
    // same exact long moments; the final r spells out the identical
    // IEEE expression (double casts before the big products — the
    // n·Σxy-class values overflow BIGINT, and both engines must
    // overflow-dodge the SAME way)
    "q100_assortativity" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         ed AS (
           SELECT a AS u, b AS v FROM e
           UNION ALL SELECT b, a FROM e),
         deg AS (
           SELECT u, CAST(count(*) AS BIGINT) AS deg FROM ed
           GROUP BY u),
         m AS (
           -- HUGEINT moments + exact cross-terms (the decimal(38,0)
           -- twin of the Spark side): BIGINT degree products
           -- overflow when two ~10^6-degree hubs meet
           SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(dx.deg) AS HUGEINT) AS sx,
             CAST(sum(dy.deg) AS HUGEINT) AS sy,
             sum(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy,
             sum(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx,
             sum(CAST(dy.deg AS HUGEINT) * dy.deg) AS syy
           FROM ed
           JOIN deg dx ON ed.u = dx.u
           JOIN deg dy ON ed.v = dy.u)
         SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
               CAST(n * syy - sy * sy AS DOUBLE)), 4) + 0.0
             AS assortativity
         FROM m""",

    // floor(log2(deg)) as length(bin(deg))−1 — integer on both
    // engines (DuckDB bin() is the same binary-string primitive).
    "q90_graph_profile" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS (
           SELECT n, count(*) AS deg FROM (
             SELECT a AS n FROM e UNION ALL SELECT b FROM e) u
           GROUP BY n)
         SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(deg) AS min_deg, max(deg) AS max_deg,
           CAST(sum(deg) AS BIGINT) AS sum_deg
         FROM deg GROUP BY 1 ORDER BY bucket""",

    // 4 unrolled Bellman-Ford relaxations over the affinity-weighted
    // symmetric edges — MATERIALIZED like q75 (each round references
    // its predecessor twice: relax + keep).
    "q87_shortest_path" -> {
      def relax(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           SELECT node, min(cand) AS dist FROM (
             SELECT ed.dst AS node, p.dist + ed.w AS cand
             FROM ed JOIN $prev p ON ed.src = p.node
             UNION ALL
             SELECT node, dist AS cand FROM $prev) u
           GROUP BY node)"""
      s"""WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         pc AS MATERIALIZED (
           SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2),
         ed AS MATERIALIZED (
           SELECT a AS src, b AS dst, 1 + 1000 // n_ab AS w FROM pc
           UNION ALL
           SELECT b, a, 1 + 1000 // n_ab FROM pc),
         d0 AS MATERIALIZED (
           SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM ed),
         ${relax("d0", "d1")}, ${relax("d1", "d2")},
         ${relax("d2", "d3")}, ${relax("d3", "d4")}
         SELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist
         FROM d4 ORDER BY dist, p_partkey LIMIT 100"""
    },

    "q75_kcore" -> {
      def peel(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           SELECT src AS node FROM ed
           WHERE src IN (SELECT node FROM $prev)
             AND dst IN (SELECT node FROM $prev)
           GROUP BY 1 HAVING count(*) >= 80)"""
      s"""WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         ed AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM e
           UNION ALL SELECT b, a FROM e),
         a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
         ${peel("a0", "a1")}, ${peel("a1", "a2")},
         ${peel("a2", "a3")}, ${peel("a3", "a4")},
         ${peel("a4", "a5")}, ${peel("a5", "a6")},
         ${peel("a6", "a7")}, ${peel("a7", "a8")},
         ${peel("a8", "a9")}, ${peel("a9", "a10")}
         SELECT src AS p_partkey, CAST(count(*) AS BIGINT) AS core_deg
         FROM ed
         WHERE src IN (SELECT node FROM a10)
           AND dst IN (SELECT node FROM a10)
         GROUP BY 1
         ORDER BY p_partkey"""
    },

    "q72_triangle_count" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS MATERIALIZED (
           SELECT n, count(*) AS deg FROM (
             SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
           GROUP BY n),
         o AS MATERIALIZED (
           SELECT CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
                  CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v
           FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
         wedges AS MATERIALIZED (
           SELECT w1.u AS x, w1.v AS y, w2.v AS z
           FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v < w2.v),
         tri AS MATERIALIZED (
           SELECT x, y, z
           FROM wedges w JOIN o c
             ON least(w.y, w.z) = least(c.u, c.v)
            AND greatest(w.y, w.z) = greatest(c.u, c.v))
         SELECT p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
         FROM (
           SELECT x AS p_partkey FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri)
         GROUP BY p_partkey
         ORDER BY n_triangles DESC, p_partkey LIMIT 100""",

    "q131_avg_neighbor_degree" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         sym AS (
           SELECT a AS src, b AS dst FROM e
           UNION ALL SELECT b, a FROM e),
         deg AS (
           SELECT src, CAST(count(*) AS BIGINT) AS deg
           FROM sym GROUP BY 1),
         j AS (
           SELECT s.src, d1.deg, d2.deg AS nbr_deg,
             CAST(length(bin(d1.deg)) - 1 AS BIGINT) AS bucket
           FROM sym s
           JOIN deg d1 ON d1.src = s.src
           JOIN deg d2 ON d2.src = s.dst)
         SELECT bucket, CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_endpoints,
           CAST(sum(nbr_deg) AS BIGINT) AS nbr_deg_mass,
           round(CAST(sum(nbr_deg) AS DOUBLE) /
             CAST(count(*) AS DOUBLE), 4) AS avg_nbr_deg
         FROM j GROUP BY bucket ORDER BY bucket""",

    // q72's brute-force wedge formulation extended with the degree
    // left join and the single-divide coefficient.
    "q109_clustering_coeff" ->
      """WITH li AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS MATERIALIZED (
           SELECT n, count(*) AS deg FROM (
             SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
           GROUP BY n),
         o AS MATERIALIZED (
           SELECT CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
                  CASE WHEN da.deg < db.deg
                         OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v
           FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
         wedges AS MATERIALIZED (
           SELECT w1.u AS x, w1.v AS y, w2.v AS z
           FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.v < w2.v),
         tri AS MATERIALIZED (
           SELECT x, y, z
           FROM wedges w JOIN o c
             ON least(w.y, w.z) = least(c.u, c.v)
            AND greatest(w.y, w.z) = greatest(c.u, c.v)),
         cnt AS MATERIALIZED (
           SELECT p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
           FROM (
             SELECT x AS p_partkey FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY p_partkey)
         SELECT deg.n AS p_partkey, CAST(deg.deg AS BIGINT) AS deg,
           CAST(coalesce(cnt.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(2 * coalesce(cnt.n_triangles, 0) AS DOUBLE) /
             CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS coeff
         FROM deg LEFT JOIN cnt ON cnt.p_partkey = deg.n
         WHERE deg.deg >= 2
         ORDER BY coeff DESC, p_partkey LIMIT 100""",

    // Three unrolled rounds, each = authority aggregate + normalizer
    // + hub aggregate + normalizer — the identical integer-division
    // sequence the Spark loop runs. Every CTE is MATERIALIZED: the
    // chain references each level twice (directly + through its
    // normalizer), so DuckDB's default inlining re-expands the base
    // join exponentially — >420 s at sf1 where the hinted form runs
    // in ~12 s (round-14 sf1 gate finding).
    "q138_hits" -> {
      def hitsRound(prevH: String, k: Int): String =
        s"""ra$k AS MATERIALIZED (
             SELECT e.p, CAST(sum(h.h) AS BIGINT) AS ra
             FROM edges e JOIN $prevH h ON h.c = e.c GROUP BY e.p),
           sa$k AS MATERIALIZED (SELECT CAST(sum(ra) AS BIGINT) AS sa FROM ra$k),
           a$k AS MATERIALIZED (
             SELECT p, CAST(ra // greatest(sa // 1000000000000, 1)
               AS BIGINT) AS a
             FROM ra$k, sa$k),
           rh$k AS MATERIALIZED (
             SELECT e.c, CAST(sum(a.a) AS BIGINT) AS rh
             FROM edges e JOIN a$k a ON a.p = e.p GROUP BY e.c),
           sh$k AS MATERIALIZED (SELECT CAST(sum(rh) AS BIGINT) AS sh FROM rh$k),
           h$k AS MATERIALIZED (
             SELECT c, CAST(rh // greatest(sh // 1000000000000, 1)
               AS BIGINT) AS h
             FROM rh$k, sh$k)"""
      s"""WITH edges AS MATERIALIZED (
           SELECT o.o_custkey AS c, l.l_suppkey AS p
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey),
         nh AS MATERIALIZED (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n
                FROM edges),
         h0 AS MATERIALIZED (
           SELECT DISTINCT c,
             CAST(1000000000000 // (SELECT n FROM nh) AS BIGINT) AS h
           FROM edges),
         ${hitsRound("h0", 1)},
         ${hitsRound("h1", 2)},
         ${hitsRound("h2", 3)},
         top AS (
           SELECT 'auth' AS side, 's' || CAST(p AS VARCHAR) AS node,
             a AS score FROM a3
           UNION ALL
           SELECT 'hub', 'c' || CAST(c AS VARCHAR), h FROM h3),
         ranked AS (
           SELECT side, node, score,
             CAST(row_number() OVER (PARTITION BY side
               ORDER BY score DESC, node) AS BIGINT) AS rank
           FROM top)
         SELECT side, rank, node, score FROM ranked
         WHERE rank <= 20 ORDER BY side, rank"""
    },

    "q62_pagerank" -> {
      // Five unrolled integer iterations; itK reads it(K-1). Each round
      // re-derives give = r // deg then sums over in-edges — identical
      // operation order to the Spark loop.
      def round(prev: String, cur: String): String =
        s"""$cur AS (
           SELECT e.dst AS node,
             CAST((SELECT b FROM base) +
                  (85 * sum(p.r // dg.d)) // 100 AS BIGINT) AS r
           FROM edges e
           JOIN $prev p ON e.src = p.node
           JOIN deg dg ON e.src = dg.src
           GROUP BY e.dst)"""
      s"""WITH pairs AS (
           SELECT o.o_custkey * 2 AS src,
                  l.l_suppkey * 2 + 1 AS dst
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (
           SELECT src, dst FROM pairs
           UNION ALL
           SELECT dst AS src, src AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM deg),
         base AS (SELECT CAST(15000000000000 // (100 * n) AS BIGINT) AS b
                  FROM nn),
         r0 AS (SELECT src AS node,
                  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
                FROM deg),
         ${round("r0", "it1")},
         ${round("it1", "it2")},
         ${round("it2", "it3")},
         ${round("it3", "it4")},
         ${round("it4", "it5")}
         SELECT CASE WHEN node % 2 = 0
                  THEN 'c' || CAST(node // 2 AS VARCHAR)
                  ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
           r AS rank_scaled
         FROM it5
         ORDER BY rank_scaled DESC, node LIMIT 100"""
    },

    // q62's unrolled-round skeleton with the per-node bias table
    // replacing the global base scalar; identical integer truncation
    // sequence (r // d per edge, 85·sum // 100, bias add).
    "q213_ppr" -> {
      def round(prev: String, cur: String): String =
        s"""$cur AS (
           SELECT e.dst AS node,
             CAST(bb.bias +
                  (85 * sum(p.r // dg.d)) // 100 AS BIGINT) AS r
           FROM edges e
           JOIN $prev p ON e.src = p.node
           JOIN deg dg ON e.src = dg.src
           JOIN bias bb ON bb.node = e.dst
           GROUP BY e.dst, bb.bias)"""
      s"""WITH pairs AS (
           SELECT o.o_custkey * 2 AS src,
                  l.l_suppkey * 2 + 1 AS dst
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (
           SELECT src, dst FROM pairs
           UNION ALL
           SELECT dst AS src, src AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         seeds AS (
           SELECT DISTINCT dg.src AS node
           FROM deg dg JOIN customer c
             ON dg.src = c.c_custkey * 2 AND c.c_nationkey = 0),
         nseed AS (SELECT count(*) AS ns FROM seeds),
         bias AS (
           SELECT dg.src AS node,
             CAST(CASE WHEN s.node IS NOT NULL
               THEN 15000000000000 // (100 * (SELECT ns FROM nseed))
               ELSE 0 END AS BIGINT) AS bias
           FROM deg dg LEFT JOIN seeds s ON s.node = dg.src),
         r0 AS (
           -- seed MEMBERSHIP, not `bias > 0` (ADVICE r16): with a
           -- large-enough cohort the bias truncates to 0 and the two
           -- tests diverge; membership mirrors the Spark init exactly
           SELECT dg.src AS node,
             CAST(CASE WHEN s.node IS NOT NULL
               THEN 1000000000000 // (SELECT ns FROM nseed)
               ELSE 0 END AS BIGINT) AS r
           FROM deg dg LEFT JOIN seeds s ON s.node = dg.src),
         ${round("r0", "it1")},
         ${round("it1", "it2")},
         ${round("it2", "it3")},
         ${round("it3", "it4")},
         ${round("it4", "it5")}
         SELECT CASE WHEN node % 2 = 0
                  THEN 'c' || CAST(node // 2 AS VARCHAR)
                  ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
           r AS ppr_scaled
         FROM it5
         ORDER BY ppr_scaled DESC, node LIMIT 100"""
    },

    // Independent formulation: the 4 synchronous LPA rounds unrolled
    // as a CTE chain; the argmax is a per-node row_number window over
    // the (count desc, label asc) order — the single-sort shape the
    // Spark side's struct-max agg replaces.
    "q101_label_propagation" -> {
      def lpaRound(prev: String, out: String): String =
        s"""$out AS (
             SELECT node, lab FROM (
               SELECT s.dst AS node, l.lab, count(*) AS c,
                 row_number() OVER (PARTITION BY s.dst
                   ORDER BY count(*) DESC, l.lab) AS rn
               FROM sym s JOIN $prev l ON s.src = l.node
               GROUP BY s.dst, l.lab)
             WHERE rn = 1)"""
      s"""WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
         ${lpaRound("l0", "l1")},
         ${lpaRound("l1", "l2")},
         ${lpaRound("l2", "l3")},
         ${lpaRound("l3", "l4")}
         SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members,
           min(node) AS min_node, max(node) AS max_node
         FROM l4 GROUP BY 1 ORDER BY 1"""
    },

    // Independent formulation: the wedge SELF-JOIN builds the
    // common-neighbor counts (the shape the Spark side's HOF
    // comprehension replaces).
    "q108_link_prediction" ->
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION ALL SELECT b, a FROM e),
         deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                 FROM sym GROUP BY 1),
         ctr AS (SELECT src FROM sym GROUP BY src
                 HAVING count(*) <= 64),
         cn AS (
           SELECT s1.dst AS a, s2.dst AS b,
             CAST(count(*) AS BIGINT) AS cn
           FROM sym s1
           JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
           JOIN ctr c ON c.src = s1.src
           GROUP BY 1, 2),
         ne AS (
           SELECT cn.a, cn.b, cn.cn
           FROM cn LEFT JOIN e ON e.a = cn.a AND e.b = cn.b
           WHERE e.a IS NULL)
         SELECT ne.a, ne.b, ne.cn, da.deg AS da, db.deg AS db,
           round(CAST(ne.cn AS DOUBLE) /
             CAST(da.deg + db.deg - ne.cn AS DOUBLE), 4) AS score
         FROM ne
         JOIN deg da ON da.node = ne.a
         JOIN deg db ON db.node = ne.b
         ORDER BY score DESC, ne.a, ne.b LIMIT 50""",

  )
}
