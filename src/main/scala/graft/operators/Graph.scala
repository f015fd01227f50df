package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables, formulated for the
  * Pregel-free DataFrame world: each iteration is one join + one
  * aggregation (both partitioned by the same key, so AQE reuses the
  * exchange), the driver loop only counts iterations.
  *
  * All rank arithmetic is INTEGER fixed-point (micro-units of 1e-12):
  * per-node contribution sums are integer sums, which are exact and
  * commutative, so the result is bit-identical regardless of partition
  * count, shuffle order, or engine — the property a floating-point
  * PageRank cannot offer and the reason this formulation is
  * oracle-checkable. Precision loss vs float is <= out_degree
  * micro-units per node per iteration (truncation), orders of
  * magnitude below any ranking-relevant difference.
  */
object Graph {

  /** 1.0 of rank in fixed-point micro-units. Any per-node sum of
    * in-neighbor contributions is bounded by the total graph mass
    * n * SCALE, so BIGINT holds for n up to ~9.2e18 / 1e12 ≈ 9e6
    * nodes; beyond that, drop SCALE a few powers of ten. */
  val Scale = 1000000000000L

  /** Fixed-iteration PageRank with damping 0.85 over directed
    * `edges(src, dst)` (deduplicated internally). Returns
    * (node, rank_fp) with rank in fixed-point units after exactly
    * `iters` rounds from the uniform start SCALE/n. Dangling-node
    * mass is dropped (the classic simplification; total mass then
    * decays, which is fine for ranking and keeps each iteration a
    * single join+agg instead of an extra global redistribution pass).
    *
    * Scale shape per iteration: edges JOIN ranks ON src (both sides
    * hash-partitioned on the join key), then groupBy(dst) integer sum
    * — partial map-side combine collapses each partition to one row
    * per distinct dst before the shuffle. The rank table is
    * localCheckpointed each round to truncate the growing lineage. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    // fuse the out-degree onto the edge table ONCE — each iteration
    // then needs a single join (edges x ranks) instead of two; the
    // widened edge table is checkpointed so the degree aggregation
    // never re-runs
    val eDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("out_deg")), Seq("src"))
      .localCheckpoint(eager = false)
    // n is one tiny scalar: computing it driver-side is a count over
    // the deduped node table, not a collect of data rows
    val n = nodes.count()
    require(n > 0, "pageRank needs at least one edge (empty graph)")
    val teleport = (Scale / 100L * 15L) / n // floor((0.15 * SCALE) / n)
    var ranks = nodes.withColumn("rank_fp", lit(Scale / n))
    // block-hygiene discipline with a CADENCE: only every 4th round
    // (and the final one) eagerly checkpoints — each checkpoint is a
    // full materialization job plus a driver sync, and a 3-round walk
    // was spending more wall time on those per-round jobs than on the
    // joins themselves. Intermediate rounds chain lazily (plan depth
    // stays <= 4 join+agg rounds, comfortably inside codegen), the
    // superseded checkpoint is freed once the next lands, and the
    // prelude checkpoints free after the final round materializes.
    var prevCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_fp div out_deg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("in_mass"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr("coalesce(in_mass, 0L) * 85 div 100")).as("rank_fp"))
      if (i % 4 == 0 || i == iters) {
        val ck = next.localCheckpoint(eager = true)
        if (prevCkpt != null) Lineage.freeLocalCheckpoint(prevCkpt)
        prevCkpt = ck
        ranks = ck
      } else ranks = next
    }
    if (prevCkpt != null)
      Seq(e, nodes, eDeg).foreach(Lineage.freeLocalCheckpoint)
    ranks
  }

  /** PERSONALIZED PageRank — random walk with restart to a SEED set
    * (teleport mass goes only to seeds), the trust/proximity measure
    * of crawl- and data-selection pipelines (Gyöngyi et al. 2004,
    * "Combating Web Spam with TrustRank": rank pages by closeness to
    * a curated seed list; the same walk scores domains for corpus
    * inclusion). Non-seed nodes start at 0 and receive only walked
    * mass, so rank decays with distance from the seeds.
    *
    * Same exact integer fixed-point discipline as [[pageRank]]
    * (SCALE = 10¹², floor divisions, order-free int64 sums —
    * deterministic at any parallelism); same per-iteration plan (one
    * edges×ranks join + keyed aggregate, out-degree fused once).
    * Seeds outside the graph's node set are ignored; at least one
    * seed must touch the graph. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val eDeg = e.join(
        e.groupBy("src").agg(count(lit(1)).as("out_deg")), Seq("src"))
      .localCheckpoint(eager = false)
    val sN = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .localCheckpoint(eager = false)
    val nS = sN.count()
    require(nS > 0,
      "personalizedPageRank needs at least one seed inside the graph")
    val teleport = (Scale / 100L * 15L) / nS
    def withSeedMass(base: DataFrame, perSeed: Long): DataFrame =
      base.join(sN.withColumn("__s", lit(1)), Seq("node"), "left")
        .withColumn("__tp",
          when(col("__s").isNotNull, lit(perSeed)).otherwise(0L))
    var ranks = withSeedMass(nodes, Scale / nS)
      .select(col("node"), col("__tp").as("rank_fp"))
      .localCheckpoint(eager = false)
    // same checkpoint CADENCE as [[pageRank]]: eager checkpoints only
    // every 4th round and on the final one, free the superseded
    // checkpoint when the next lands, free the prelude once the final
    // round's blocks exist (round 0 is itself a checkpoint root, so
    // freeing it touches only its own RDD, never nodes/sN)
    var prevCkpt: DataFrame = ranks
    for (i <- 1 to iters) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_fp div out_deg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("in_mass"))
      val next = withSeedMass(nodes.join(contribs, Seq("node"), "left"),
          teleport)
        .select(col("node"),
          (col("__tp") +
            expr("coalesce(in_mass, 0L) * 85 div 100")).as("rank_fp"))
      if (i % 4 == 0 || i == iters) {
        val ck = next.localCheckpoint(eager = true)
        Lineage.freeLocalCheckpoint(prevCkpt)
        prevCkpt = ck
        ranks = ck
      } else ranks = next
    }
    if (iters >= 1)
      Seq(e, nodes, eDeg, sN).foreach(Lineage.freeLocalCheckpoint)
    ranks
  }

  /** Per-node triangle counts over an undirected edge table, via the
    * canonical ordered-wedge formulation: edges are canonicalized to
    * u < v, every wedge a < b < c is enumerated exactly once by
    * joining the edge table with itself on the middle node, and the
    * wedge closes iff edge (a, c) exists (a semi join — the triangle
    * list itself never materializes wider than the wedge stream).
    *
    * `maxDegree` is the scale lever: wedge volume is sum(deg²), so a
    * single super-node (a stopword-like hub in a co-occurrence graph)
    * quadratically dominates the join. Nodes above the cap are dropped
    * BEFORE wedge generation — the standard truncated triangle count;
    * the result is exact on the capped graph and deterministic in any
    * engine. Shuffles: edge dedup, degree agg, wedge join on b, close
    * semi join on (a, c), final count — all key-partitioned, nothing
    * all-pairs. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = Int.MaxValue): DataFrame =
    trianglesOfCanonical(cappedCanonicalEdges(edges, srcCol, dstCol, maxDegree))

  /** Canonicalize (u < v, dedup, no loops) and drop nodes whose
    * degree exceeds the cap — the shared prelude of the triangle /
    * clustering operators. Public so a pipeline computing several
    * graph statistics over the same graph can build the capped edge
    * table ONCE and feed [[trianglesOfCanonical]] etc. */
  def cappedCanonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String, maxDegree: Int): DataFrame = {
    val e0 = edges
      // a null endpoint is a malformed edge, not a node named NULL —
      // drop it before least/greatest would propagate the null
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    val hubs = HotKeys.over(
      e0.select(explode(array(col("u"), col("v"))).as("node")),
      Seq("node"), maxDegree)
    HotKeys.drop(HotKeys.drop(e0, hubs.toDF("u"), Seq("u")),
        hubs.toDF("v"), Seq("v"))
      .localCheckpoint(eager = false)
  }

  /** Truncated k-CORE decomposition (Seidman 1983, "Network
    * structure and minimum degree"; the peel rule of
    * Batagelj–Zaveršnik 2003, run breadth-synchronously): repeatedly
    * drop every node whose degree in the SURVIVING subgraph is < k —
    * the fixpoint is the k-core, the densely-interlinked kernel a
    * link-graph audit extracts (template/spam hubs live in high
    * cores; peripheral content peels away). Takes a canonical edge
    * table from [[cappedCanonicalEdges]] so several graph statistics
    * share one prepared graph.
    *
    * Runs at most `rounds` synchronous peel rounds with an early
    * exit at the fixpoint (peel only ever removes edges, so an
    * unchanged edge count IS the fixpoint); if the cascade is deeper
    * than `rounds` the result is the documented round-r truncation,
    * deterministic for a given (k, rounds) — the fixed-iteration
    * honesty of [[pageRank]]. Scale shape per round: one degree
    * aggregation (map-side combined) + two endpoint semi-joins, all
    * over a shrinking edge set, localCheckpointed so lineage stays
    * flat. Returns (node, core_deg): surviving nodes with their
    * degree inside the surviving subgraph. */
  def kCoreOfCanonical(canonical: DataFrame, k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // LAZY checkpoints with the fixpoint count as the materializing
    // action — one job per peel round instead of two (the eager
    // checkpoint job folded into the count the loop needs anyway;
    // same cadence lesson as pageRank's round-17 change)
    var cur = canonical.select(col("u"), col("v"))
      .localCheckpoint(eager = false)
    var prevEdges = cur.count()
    var r = 0
    while (r < rounds && prevEdges > 0) {
      r += 1
      val keep = cur
        .select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("node")
      val next = cur
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .localCheckpoint(eager = false)
      val n = next.count()
      // the peeled round is dead — release its pinned blocks so a
      // long loop holds one round's working set, not all of them
      Lineage.freeLocalCheckpoint(cur)
      cur = next
      if (n == prevEdges) r = rounds // fixpoint — stop peeling
      prevEdges = n
    }
    cur.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /** [[kCoreOfCanonical]] over a raw edge table: canonicalize
    * (u < v, dedup, no loops, optional degree cap) then peel. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 8, maxDegree: Int = Int.MaxValue): DataFrame =
    kCoreOfCanonical(
      cappedCanonicalEdges(edges, srcCol, dstCol, maxDegree), k, rounds)

  /** Per-node triangle counts over ALREADY-canonical (u < v) edges —
    * pair with [[cappedCanonicalEdges]] when several statistics share
    * one prepared graph. */
  def trianglesOfCanonical(e: DataFrame): DataFrame = {
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), Seq("b"))
    val tri = wedges.join(
      e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"),
      "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per node (how close a node's
    * neighborhood is to a clique): cc = 2*triangles / (deg*(deg-1)),
    * emitted in integer millis — exact integer arithmetic, no double
    * division to diverge across engines. Degree and triangles are
    * both measured on the SAME capped graph, so the ratio is
    * internally consistent; only nodes in ≥1 triangle appear (their
    * degree is ≥ 2, so the denominator never vanishes). */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String, maxDegree: Int = Int.MaxValue): DataFrame = {
    val e = cappedCanonicalEdges(edges, srcCol, dstCol, maxDegree)
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    trianglesOfCanonical(e).join(deg, Seq("node"))
      .select(col("node"), col("deg"), col("n_tri"),
        expr("n_tri * 2000 div (deg * (deg - 1))").as("cc_milli"))
  }

  /** Structural-similarity link scoring over ALREADY-canonical
    * (u < v) edges — Jaccard of neighborhoods (Liben-Nowell &
    * Kleinberg 2003's strongest cheap predictor): for every node
    * pair sharing at least one neighbor, |N(a)∩N(b)| milli-divided
    * by |N(a)∪N(b)|, in exact integers. `is_edge` marks whether the
    * pair is already linked, so one frame serves both uses — link
    * PREDICTION reads is_edge=0 (missing edges between structurally
    * close nodes), graph DEDUP reads is_edge=1 (redundant near-twin
    * nodes, the role-equivalence signal).
    *
    * Scale shape: candidates come from the WEDGE join (two adj rows
    * sharing their center), so cost is Σ deg(w)² over wedge centers
    * — bounded by maxDegree·|E| on a [[cappedCanonicalEdges]] graph,
    * never |V|². The count-per-pair aggregation is map-side
    * combined; degrees join back keyed (broadcast-sized per node
    * set); `minMilli` prunes the diffuse tail AFTER exact scoring
    * (correctness needs the true common count first, same discipline
    * as [[cooccurrenceLift]]'s minSupport).
    *
    * The edge table is scanned several times (adjacency both ways,
    * degrees, the final is_edge join) — when building it is
    * expensive, MATERIALIZE it first (a checkpoint or a written
    * intermediate, e.g. graft.queries.materialized). Deliberately no
    * internal localCheckpoint: the returned frame would keep the
    * blocks reachable, so the operator could never free them, and a
    * session-pinned copy per call is exactly the block-hygiene leak
    * [[Lineage]] exists to prevent. */
  def neighborJaccard(canonical: DataFrame,
      minMilli: Long = 100L): DataFrame = {
    val e = canonical.select(col("u"), col("v"))
    val adj = e.select(col("u").as("n"), col("v").as("w"))
      .unionAll(e.select(col("v").as("n"), col("u").as("w")))
    val deg = adj.groupBy("n").agg(count(lit(1)).as("deg"))
    // wedge enumeration stays the adjacency SELF-JOIN on the center:
    // the basket alternative (group neighbors per center, expand the
    // a < b pairs map-side — cooccurrenceLift's rewrite) was
    // A/B-measured 1.2-2x SLOWER here: under the 128-degree cap the
    // per-center arrays are big enough that the chained generators
    // churn array allocations, while the join's wedge stream feeds
    // the partial aggregate straight through whole-stage codegen.
    //
    // The PPJoin-style DEGREE-BAND prune (kill wedges whose endpoint
    // degrees make the threshold unreachable: min(deg_a, deg_b) *
    // (1000+minMilli) < minMilli*(deg_a+deg_b), i.e. a >10x degree
    // ratio at minMilli=100) was implemented and A/B-measured on the
    // q_g_link_jaccard graph (alternating passes, one JVM;
    // OPTIMIZATION_r18.md §1):
    // it keeps 100.0% of the 24.6M wedges — the capped co-occurrence
    // graph has no co-neighbor pair past the 10x band — and carrying
    // degrees through the wedge shuffle made the aggregate ~15%
    // SLOWER (4.4 vs 5.1-5.3 s warm, identical results). Reverted;
    // a prefix filter is even weaker at this threshold (keeps
    // ~0.9·deg of every adjacency list). The Σ deg(w)² wedge stream
    // is this exact algorithm's intrinsic cost at minMilli=100.
    val cand = adj.select(col("n").as("a"), col("w"))
      .join(adj.select(col("n").as("b"), col("w")), Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    cand
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("jaccard_milli",
        expr("common * 1000 div (deg_a + deg_b - common)"))
      .filter(col("jaccard_milli") >= minMilli)
      .join(e.select(col("u").as("a"), col("v").as("b"),
        lit(1L).as("__e")), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("common"), col("deg_a"),
        col("deg_b"), col("jaccard_milli"),
        coalesce(col("__e"), lit(0L)).as("is_edge"))
  }

  /** Pairwise co-occurrence lift over (basket, item) rows — the
    * market-basket association statistic: lift(a,b) = P(a,b) /
    * (P(a)P(b)) = cab*N / (ca*cb), emitted in integer millis (exact
    * integer products; valid while cab·N·1000 < 2⁶³, i.e. cab·N
    * below ~9·10¹⁵ — comfortable for any basket corpus whose hottest
    * pair count times total baskets stays under that product; past it
    * — ~10⁹ baskets with ~10⁶-count hot pairs — pre-aggregate by
    * basket sampling before calling, the statistic is ratio-stable
    * under uniform basket sampling). The pair join is bounded by
    * sum(basket_size²) — basket
    * size, not corpus size, controls the blowup — and `minSupport`
    * prunes the long noise tail AFTER the pair count (correctness
    * requires counting first). Item totals broadcast back onto the
    * surviving pairs.
    *
    * `maxBasket` is the scale guard (the [[cappedCanonicalEdges]] /
    * `maxBucket` pattern of the dedup family): one degenerate basket —
    * a crawler session with 10⁵ items — alone fans out 10¹⁰ pairs and
    * kills the stage. Baskets above the cap are dropped WHOLE before
    * any counting, so N, the item totals and the pair counts are all
    * computed over the same capped population and the statistic stays
    * internally consistent — exact on the capped input, the same
    * contract as the truncated triangle count; the dropped-basket
    * count is logged loudly so the exclusion is never silent. A
    * basket that big is a
    * bot or a feed, not co-purchase signal. Caveat: the cap bounds the
    * PAIR fan-out; a dropped basket's distinct-item set still passes
    * through one collect_set buffer (array-of-items memory, not
    * pairs²), so a key whose set alone cannot fit an executor needs
    * upstream skew hygiene ([[degrees]] / `Skew.skewReport` finds
    * them). */
  def cooccurrenceLift(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Int,
      maxBasket: Int = 10000): DataFrame = {
    // ONE shuffle builds the per-basket item array; the cap then
    // bounds it, and pair expansion happens MAP-SIDE from the sorted
    // array (i < j gives pa < pb with no filter) — the previous
    // formulation self-joined the basket table on o, which shuffles
    // the rows twice and materializes the pair stream through an
    // exchange before counting. sort_array makes the expansion
    // deterministic at any partitioning.
    val allBaskets = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("o"), col(itemCol).as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("items"))
      .localCheckpoint(eager = false)
    // the kept/dropped split rides the count() action the lift
    // denominator already needs — a dropped basket is never silent
    // (the 'no silent caps' discipline): the count is logged loudly
    // so a run that excluded data says so in its driver log
    val split = allBaskets.agg(
      sum(when(size(col("items")) <= maxBasket, 1L).otherwise(0L))
        .as("kept"),
      sum(when(size(col("items")) > maxBasket, 1L).otherwise(0L))
        .as("dropped")).head()
    val nBaskets = if (split.isNullAt(0)) 0L else split.getLong(0)
    val nDropped = if (split.isNullAt(1)) 0L else split.getLong(1)
    if (nDropped > 0) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"cooccurrenceLift: dropped $nDropped basket(s) larger than " +
          s"maxBasket=$maxBasket; N and all lifts are computed over " +
          s"the remaining $nBaskets basket(s)")
    }
    val baskets = allBaskets.filter(size(col("items")) <= maxBasket)
    val cnt = baskets
      .select(explode(col("items")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
    val pairs = baskets.select(explode(expr(
      // all i < j pairs of the sorted array, generated in codegen
      """flatten(transform(items, (x, i) ->
        |  transform(slice(items, i + 2, size(items) - i - 1),
        |    y -> struct(x AS pa, y AS pb))))""".stripMargin))
      .as("pr"))
      .select(col("pr.pa"), col("pr.pb"))
    pairs
      .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minSupport)
      // no broadcast hint: the item-count table is |items| rows and
      // the surviving pairs can be either side of it — AQE picks
      .join(cnt.select(col("p").as("pa"), col("c").as("ca")), Seq("pa"))
      .join(cnt.select(col("p").as("pb"), col("c").as("cb")), Seq("pb"))
      .select(col("pa"), col("pb"), col("cab"),
        expr(s"cab * ${nBaskets}L * 1000 div (ca * cb)")
          .as("lift_milli"))
  }

  /** In/out degree profile of an edge table — the first thing to look
    * at before joining anything at scale (skew shows up here). */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
      .join(e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_deg")), Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Synchronous label-propagation communities (Raghavan 2007, "Near
    * linear time algorithm to detect community structures") — every
    * node starts as its own label and each round adopts the most
    * frequent label among its neighbors, most-frequent ties broken by
    * MIN label so the update is a pure function of the previous
    * round's labels (no random order, no flip-coin tie-breaks: the
    * classic algorithm made deterministic, the same discipline as
    * [[pageRank]]'s fixed iteration count). Densely interlinked
    * regions converge onto one label within a few rounds; the label
    * is the community id. Takes a canonical (u, v) edge table from
    * [[cappedCanonicalEdges]].
    *
    * Scale shape per round: one adjacency⋈labels equi-join + one
    * map-side-combined (node, label) count + one per-node top-1
    * window — O(E) work, partitioned by node, never all-pairs;
    * per-round localCheckpoint keeps lineage flat. Synchronous
    * updates can two-cycle on bipartite seams; a fixed round budget
    * makes that a documented truncation, not nontermination.
    * Returns (node, community). */
  def labelPropagation(canonical: DataFrame,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.expressions.Window
    val adj = canonical
      .select(col("u").as("n"), col("v").as("w"))
      .unionByName(canonical.select(col("v").as("n"), col("u").as("w")))
      .localCheckpoint(eager = false)
    var labels = adj.select(col("n").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val counted = adj
        .join(labels.withColumnRenamed("node", "w"), Seq("w"))
        .groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("__c"))
      val top = Window.partitionBy(col("n"))
        .orderBy(col("__c").desc, col("lbl").asc)
      val next = counted
        .withColumn("__rn", row_number().over(top))
        .filter(col("__rn") === 1)
        .select(col("n").as("node"), col("lbl"))
        .localCheckpoint(eager = true)
      Lineage.freeLocalCheckpoint(labels) // dead round's blocks
      labels = next
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Newman–Girvan modularity of a labeling (Newman 2004, "Finding
    * and evaluating community structure in networks"): Q = Σ_c
    * [e_c/m − (d_c/2m)²] over communities, where e_c is the
    * intra-community edge count and d_c the community's degree sum —
    * the standard score of how much denser communities are than a
    * degree-preserving random rewiring. Exact integer rationals:
    * Q = num/den with num = Σ_c (4·m·e_c − d_c²) and den = 4m²,
    * summed in DECIMAL(38,0) (d_c² reaches 4m², past int64 at ~1.5e9
    * edges), reported as a truncated-toward-zero milli. One row:
    * (m, n_communities, q_milli). Labeling from [[labelPropagation]]
    * (or any (node, community) frame covering every endpoint).
    *
    * Scale shape: two edge⋈label equi-joins + map-side-combined
    * per-community sums + a single-row rollup — O(E), no windows. */
  def modularityOf(canonical: DataFrame,
      labels: DataFrame): DataFrame = {
    val e = canonical.select(col("u"), col("v"))
      .localCheckpoint(eager = false)
    val m = e.count()
    require(m > 0, "modularity needs at least one edge (empty graph)")
    val lab = labels.select(col("node"), col("community"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val dc = deg.join(lab, Seq("node"))
      .groupBy("community")
      .agg(sum(col("__d").cast("decimal(38,0)")).as("__dc"))
    val ec = e
      .join(lab.select(col("node").as("u"), col("community").as("__cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("__cv")),
        Seq("v"))
      .filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community"))
      .agg(count(lit(1)).as("__ec"))
    dc.join(ec, Seq("community"), "left")
      .select(col("__dc"),
        coalesce(col("__ec"), lit(0L)).cast("decimal(38,0)").as("__ec"))
      .agg(
        count(lit(1)).as("n_communities"),
        sum(expr(s"4 * CAST($m AS DECIMAL(38,0)) * __ec - __dc * __dc"))
          .as("__num"))
      .select(lit(m).as("m"),
        col("n_communities").cast("long").as("n_communities"),
        expr(s"""CASE WHEN __num >= 0
          | THEN CAST(__num * 1000 div (4 * CAST($m AS DECIMAL(38,0))
          |   * CAST($m AS DECIMAL(38,0))) AS BIGINT)
          | ELSE -CAST((0 - __num) * 1000 div (4 * CAST($m AS
          |   DECIMAL(38,0)) * CAST($m AS DECIMAL(38,0))) AS BIGINT)
          | END""".stripMargin).as("q_milli"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") — the link-analysis pair next to
    * [[pageRank]]: an AUTHORITY is pointed to by good hubs, a HUB
    * points to good authorities; the mutual recursion converges to
    * the principal eigenvectors of AᵀA / AAᵀ. The classic "quality
    * source vs quality aggregator" split of crawl frontier scoring,
    * where PageRank conflates the two roles.
    *
    * Integer fixed-point discipline (same as [[pageRank]]): scores
    * are int64 at [[Scale]]; each half-step sums exact integers then
    * L1-normalizes back to Scale through a DECIMAL(38,0)
    * cross-multiply. Unlike pageRank there is no degree division, so
    * the raw L1 mass is bounded by E·Scale, not N·Scale — both the
    * normalization TOTAL and the cross-multiply therefore run in
    * DECIMAL(38,0) (an int64 total would wrap past ~9.2e6 edges);
    * the quotient is ≤ Scale so it re-enters int64 exactly. Kleinberg normalizes in
    * L2 — a DOCUMENTED deviation: normalization only rescales the
    * iterate, never its direction, so the converged ranking is
    * identical while every score stays an exact integer (no sqrt).
    * Updates are in classic order: authorities from the PREVIOUS
    * hubs, then hubs from the NEW authorities.
    *
    * Scale shape per iteration: two edge⋈score equi-joins with
    * map-side-combined sums + two single-row totals (broadcast) —
    * O(E) work per iteration, no all-pairs anywhere. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count()
    require(n > 0, "hits needs at least one edge (empty graph)")
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(
        sum(col("__m").cast("decimal(38,0)")).as("__t"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"CAST(CAST(coalesce(__m, CAST(0 AS DECIMAL(38,0))) AS DECIMAL(38,0)) " +
            s"* ${Scale}L div __t AS BIGINT)").as(out))
        .localCheckpoint(eager = false)
    }
    var auth = nodes.withColumn("auth_fp", lit(Scale / n))
    var hub = nodes.withColumn("hub_fp", lit(Scale / n))
    for (_ <- 1 to iters) {
      val aRaw = e
        .join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub_fp").cast("decimal(38,0)")).as("__m"))
      auth = normalized(aRaw, "auth_fp")
      val hRaw = e
        .join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth_fp").cast("decimal(38,0)")).as("__m"))
      hub = normalized(hRaw, "hub_fp")
    }
    auth.join(hub, Seq("node"))
  }
}
