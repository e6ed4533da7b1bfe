package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph operators — the reference's PageRank pipeline
  * (its only iterative / graph-shaped workload), Spark-first.
  *
  * Reference semantics (cited, not copied):
  *  - step 1 adjacency build: Step1Mapper.java:27-30, Step1Reducer.java:18-27
  *  - step 2 contribution + damping (1-d) + d*Σ: Step2Mapper.java:30-38,
  *    Step2Reducer.java:17-42; driver loop PageRank.java:33-96
  *  - step 3 global desc sort by rank: Step3Mapper.java:78-94,
  *    SortFloatComparator.java:17-22
  *
  * Two deliberate departures from the reference, both for scale:
  *  1. Convergence is a joined scalar L1 diff (one aggregated long back to
  *     the driver per iteration), NOT the reference's read-the-entire-rank-
  *     file-into-a-driver-HashMap (PageRank.java:196-216) — that driver
  *     round-trip is O(|V|) driver memory and dies at 100 TB.
  *  2. Arithmetic is 10^12 fixed-point int64, not float. Float summation is
  *     order-dependent, so ranks would differ between partition layouts
  *     (and between engines). Integer math is exact and order-independent:
  *     the same input graph yields bit-identical ranks on 1 core or 1000
  *     executors — and in the DuckDB oracle. share = rank div outdeg;
  *     rank' = (1-d)*S + (d_pct * Σshare) div 100. Headroom: the damped
  *     term computes d_pct·Σshare BEFORE the div, and in the worst case
  *     (star graph funneling all mass to one node) Σshare ≈ |V|·Scale,
  *     so 85·|V|·10^12 < 2^63 bounds the safe worst-case at |V| ≈ 10^5.
  *     Graphs with non-pathological in-degree mass (no node receiving a
  *     constant fraction of total rank) support ~10^6+; for larger
  *     graphs lower Scale (every power of 10 buys 10× more nodes).
  *     Past-headroom graphs FAIL LOUDLY, never wrap: the session contract
  *     pins ANSI mode (GraftSession.configure), so the damped
  *     multiplication throws ARITHMETIC_OVERFLOW the moment any node's
  *     in-mass exceeds the bound — spec-pinned with a 130k-spoke star
  *     graph in GraphOpsSpec.
  */
object GraphOps {

  /** Fixed-point scale: 1 rank unit = 10^12. */
  val Scale: Long = 1000000000000L

  /** Largest id span for which the encoded int64 pair key
    * a·idSpan + b is overflow-free: the worst value is idSpan² − 1,
    * so idSpan must stay ≤ floor(√(2^63)) = 3037000498. Graphs with
    * larger ids (snowflake-style 64-bit) take the two-column-key
    * branch in [[triangleKernel]] / [[linkPredict]] instead of
    * throwing under the ANSI contract.
    */
  private[graft] val EncodedPairMaxSpan: Long = 3037000498L

  /** Broadcast budget in bytes = the session's
    * `spark.sql.autoBroadcastJoinThreshold` (honors "10MB"-style byte
    * strings and the -1 disable sentinel). The graph operators size their
    * per-node vectors against THIS, so turning broadcasts down/off for a
    * cluster turns the graph loops' broadcasts down/off with it.
    */
  private[graft] def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long = {
    val raw = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (raw.startsWith("-")) -1L
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
  }

  /** Adaptive broadcast guard shared by every graph loop: a per-node
    * int64 vector (node + payload ≈ `bytesPerRow`) is broadcast only if
    * `rows × bytesPerRow` fits the session broadcast budget
    * ([[broadcastBudget]]), so a 10^9-node graph selects the shuffled
    * plan instead of dying at plan time on a ~16 GB broadcast. To force
    * the shuffled plan, set `spark.sql.autoBroadcastJoinThreshold=-1`
    * on the session; `rows` is then never evaluated. `rows` comes from
    * ONE aggregated count per decision (the sanctioned driver-side
    * scalar), evaluated on the already-persisted/checkpointed vector.
    */
  private[graft] def decideBroadcast(rows: => Long, budget: Long,
                                     bytesPerRow: Long = 16L): Boolean =
    budget > 0 && rows * bytesPerRow <= budget

  /** Distinct endpoints of the edge list. */
  def nodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()

  /** Deterministic synthetic edge list from lineitem (FIXTURES.md §C):
    * src = l_orderkey mod m, dst = l_partkey mod m, self-loops dropped.
    */
  def edgesFromLineitem(lineitem: DataFrame, mod: Int = 997): DataFrame =
    lineitem.select(
        (col("l_orderkey") % mod).as("src"),
        (col("l_partkey") % mod).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Deterministic synthetic WEIGHTED directed edge list from lineitem —
    * the [[edgesFromLineitem]] discipline with a data-derived weight
    * column: w = min(l_linenumber) over the rows collapsing to each
    * (src, dst) pair. Integer min is order-independent and identical in
    * DuckDB, so weighted-graph oracles replay the same derivation.
    */
  def weightedEdgesFromLineitem(lineitem: DataFrame, mod: Int): DataFrame =
    lineitem.select(
        (col("l_orderkey") % mod).as("src"),
        (col("l_partkey") % mod).as("dst"),
        col("l_linenumber"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("l_linenumber").cast("long").as("w"))

  /** Nodes with no incoming edges — their rank is the teleport base every
    * iteration, so it is computed ONCE and unioned in per step instead of
    * left-joining the whole node set against the contribution sums.
    */
  private def noInNodes(edges: DataFrame): DataFrame =
    nodes(edges).join(edges.select(col("dst").as("node")).distinct(),
      Seq("node"), "left_anti")

  /** Damping in percent: rank' = base + (DampPct · Σshare) div 100, with
    * base = (100 − DampPct)% · [[Scale]]. The oracles replay 85.
    */
  private val DampPct = 85

  /** Rounds between lineage cuts of the rank vector: a persist every
    * `CutEvery` rounds, and the L1 probe of [[pageRankConverged]].
    */
  private val CutEvery = 3

  /** Fixed-iteration PageRank (deterministic, oracle-checkable).
    * Output: (node, rank_fp: int64 fixed-point, rank: double), globally
    * sorted rank desc — the reference's step-3 contract. One loop serves
    * every variant, chosen by the arguments:
    *
    *  - '''Weighted''' when `edges` carries a `w` column — the
    *    `(src, dst, w: int64 > 0)` shape [[ssspWeighted]] and
    *    [[labelPropagationWeighted]] take. Each node's rank splits across
    *    its out-arcs by weight: share(u→v) = (rank_fp(u) · w) div wdeg(u),
    *    wdeg = Σ outgoing w; with uniform weights this equals the
    *    unweighted share rank_fp div outdeg (spec-pinned). The share
    *    numerator is rank_fp·w BEFORE the div, so the headroom bound
    *    tightens by max(w): max(w)·|V|·Scale < 2^63, enforced with one
    *    aggregated max at entry (a BigInt check that cannot overflow);
    *    ANSI mode still backstops any in-loop overflow loudly.
    *  - '''Warm start''' from `prior` (node, rank_fp): the nightly-append
    *    shape — re-rank a grown edge set for a few rounds from
    *    yesterday's persisted vector instead of the full budget from
    *    scratch. Nodes absent from the prior start at the cold init. The
    *    result is bit-identical to unrolling base-rounds + warm-rounds,
    *    which is what the oracle replays.
    *  - '''Personalized''' with `seedMod`: teleport mass only on the seed
    *    set (node % seedMod = 0) — "importance as seen FROM the seeds",
    *    the query behind related-page and topic-conditioned ranking.
    *    base(v) = (100 − DampPct)% · Scale for seeds, 0 otherwise, and
    *    the cold init is that base vector; non-seed rank arrives only
    *    through in-links, so mass decays through dangling nodes exactly
    *    as the push-style formulation prescribes.
    *
    * Per round: the rank vector (16 B/node) broadcasts into the edge
    * join under the adaptive guard ([[decideBroadcast]]), so the edge
    * list never shuffles for the join and the only exchange is the
    * contribution re-aggregation keyed on dst; nodes without in-edges
    * take base(node), unioned in from a set computed once. The rank
    * lineage is cut with a persist every [[CutEvery]] rounds: a deeply
    * nested unmaterialized chain of broadcast-join steps makes every
    * replan pass over the whole chain (measured 2-3× slower end-to-end
    * at 10 deep), and on a real cluster unbounded lineage is a
    * failure-recovery hazard.
    */
  def pageRank(edges: DataFrame, iters: Int, prior: Option[DataFrame] = None,
               seedMod: Option[Int] = None): DataFrame = {
    require(iters >= 1 && seedMod.forall(_ >= 1))
    rankLoop(edges, iters, prior, seedMod, tolFp = None)._1
  }

  /** Convergence-driven PageRank: the [[pageRank]] loop, stopped once the
    * L1 rank diff (in fixed-point units) drops below `tolFp`, or after
    * `maxIters` rounds. Convergence is tested every [[CutEvery]] rounds:
    * each check materializes the current ranks (persist) and ships ONE
    * aggregated long to the driver — no per-node driver state, and only
    * maxIters/CutEvery driver round-trips. The L1 is measured across the
    * whole block (diffs shrink geometrically, so the block diff
    * upper-bounds the last per-round diff — the test is conservative);
    * the loop may overshoot convergence by up to CutEvery−1 rounds,
    * which only tightens the result. Returns (final ranks sorted desc,
    * rounds run).
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int,
                        tolFp: Long): (DataFrame, Int) =
    rankLoop(edges, maxIters, prior = None, seedMod = None, Some(tolFp))

  /** The rank loop behind [[pageRank]] and [[pageRankConverged]]. One step
    * is c = Σ share over in-arcs, rank' = base(node) + (DampPct · c) div
    * 100, unioned with base(node) for the nodes without in-edges.
    */
  private def rankLoop(edges: DataFrame, iters: Int, prior: Option[DataFrame],
                       seedMod: Option[Int],
                       tolFp: Option[Long]): (DataFrame, Int) = {
    val pin = StorageLevel.MEMORY_AND_DISK
    val weighted = edges.columns.contains("w")
    val deg = edges.groupBy("src")
      .agg((if (weighted) sum("w") else count(lit(1))).as("deg"))
    // Reused every round — persist so the scan+distinct+join runs once.
    val ew = edges.join(deg, "src").persist(pin)
    val noIn = noInNodes(edges).persist(pin)
    val n0 = nodes(edges).persist(pin)
    // |V| is constant across rounds, so the broadcast-vs-shuffle
    // decision is made ONCE from one aggregated count of the node set.
    val budget = broadcastBudget(edges.sparkSession)
    val bc =
      if (!weighted) decideBroadcast(n0.count(), budget)
      else {
        val nNodes = n0.count()
        // An empty edge set has no weight to bound (max is null).
        val maxW = edges.agg(coalesce(max("w"), lit(1L))).head().getLong(0)
        require(maxW >= 1, s"edge weights must be positive (max=$maxW)")
        require(BigInt(maxW) * nNodes * Scale < BigInt(Long.MaxValue),
          s"max(w)=$maxW at |V|=$nNodes exceeds int64 fixed-point " +
            "headroom; lower GraphOps.Scale or rescale weights")
        decideBroadcast(nNodes, budget)
      }
    val share =
      expr(if (weighted) "(rank_fp * w) div deg" else "rank_fp div deg")
    val base = (100L - DampPct) * (Scale / 100)
    val baseOf = seedMod.fold(lit(base))(m =>
      when(col("node") % m === 0, base).otherwise(0L))
    val cold = if (seedMod.isDefined) baseOf else lit(Scale)
    def step(ranks: DataFrame): DataFrame = {
      val r = if (bc) broadcast(ranks) else ranks
      ew.join(r, ew("src") === r("node"))
        .select(ew("dst").as("node"), share.as("share"))
        .groupBy("node").agg(sum("share").as("c"))
        .select(col("node"),
          (baseOf + expr(s"($DampPct * c) div 100")).as("rank_fp"))
        .union(noIn.select(col("node"), baseOf.as("rank_fp")))
    }
    val init = prior.fold(n0.select(col("node"), cold.as("rank_fp")))(p =>
      n0.join(p.select("node", "rank_fp"), Seq("node"), "left")
        .select(col("node"), coalesce(col("rank_fp"), cold).as("rank_fp")))
    var ranks = if (tolFp.isDefined) init.persist(pin) else init
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      var next = ranks
      for (_ <- 1 to math.min(CutEvery, iters - it)) next = step(next)
      it = math.min(it + CutEvery, iters)
      if (tolFp.isDefined || it < iters) next = next.persist(pin)
      tolFp.foreach { tol =>
        val prev0 = ranks.withColumnRenamed("rank_fp", "prev_fp")
        val prev = if (bc) broadcast(prev0) else prev0
        val l1 = next.join(prev, "node")
          .agg(sum(abs(col("rank_fp") - col("prev_fp"))).as("l1"))
          .head().getLong(0)
        ranks.unpersist()
        converged = l1 < tol
      }
      ranks = next
    }
    (ranks.select(col("node"), col("rank_fp"),
        (col("rank_fp").cast("double") / lit(Scale.toDouble)).as("rank"))
      .orderBy(col("rank_fp").desc, col("node")), it)
  }

  /** Connected components by min-label propagation — the dedup-cluster
    * primitive: near-dup PAIRS (from MinHash/SimHash/embedding LSH) become
    * CLUSTERS, and each cluster's minimum doc id is the canonical
    * representative a curation pipeline keeps.
    *
    * Per iteration every node takes the min of its own label and its
    * neighbors' labels; the fixed point assigns every node its
    * component's minimum id — a property of the graph only, independent
    * of iteration count or partitioning, so the result is deterministic
    * and oracle-checkable (DuckDB recursive CTE computes the same min
    * reachable id). Convergence is a driver-side scalar (count of
    * changed labels), same pattern as pageRankConverged — no per-node
    * driver state.
    *
    * Iterations needed = component diameter: near-dup clusters are
    * near-cliques (diameter 1-2), so 3-4 rounds close. For graphs with
    * long chains swap in star-contraction (doubles label reach per
    * round); the join/agg shape below is unchanged. If `maxIters` is
    * exhausted before the fixed point the op THROWS instead of returning
    * silently-wrong labels (a diameter-49 chain is already pathological
    * for near-dup data; raise maxIters or contract stars for such
    * graphs).
    *
    * `edges`: (a, b) undirected pairs. Output: (node, cluster) for every
    * node appearing in an edge. The label table is 16 B/node — broadcast
    * into the edge join for the same reason as the PageRank rank vector.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // Persist the input FIRST: the bidirectional union references the
    // edge subplan twice, and when edges are themselves the output of an
    // expensive pipeline (MinHash pair generation) each branch would
    // re-run it end-to-end.
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lbl = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // |V| is fixed for the whole propagation — one count decides the path.
    val bc = decideBroadcast(lbl.count(), broadcastBudget(edges.sparkSession))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val l = if (bc) broadcast(lbl) else lbl
      val nbrMin = und.join(l, und("u") === l("node"))
        .groupBy(und("v").as("node")).agg(min("cluster").as("nmin"))
      // localCheckpoint (eager) truncates the LOGICAL lineage each round:
      // with persist alone the analyzed plan still nests every earlier
      // iteration, so planning + cache-lookup cost grows per round
      // (measured 0.7→1.1→2.3 s/iter; flat ~0.4 s with checkpointing).
      // The label table is |V| rows, so the checkpointed state is tiny;
      // on a cluster where executor loss matters, swap in reliable
      // checkpoint(), same call site.
      // prev rides the update row, so the convergence count is a
      // filter over the just-checkpointed frame — no per-round
      // next ⋈ lbl join.
      val next = lbl.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("prev"))
        .localCheckpoint(true)
      val changed = next.filter(col("cluster") =!= col("prev")).count()
      lbl.unpersist()
      lbl = next.select("node", "cluster")
      it += 1
      converged = changed == 0L
    }
    // The final labels are checkpoint-backed, so the inputs can be freed
    // here instead of leaking cache entries for the session's lifetime.
    und.unpersist()
    e.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds maxIters); raise maxIters or " +
        "pre-contract long chains")
    lbl
  }

  /** Community detection by synchronous label propagation (LPA) — the
    * mode-label sibling of [[connectedComponents]]: where CC takes the
    * MIN of neighbor labels (yielding reachability classes), LPA takes
    * the PLURALITY label over the closed neighborhood {self} ∪
    * neighbors, so densely interconnected groups lock onto one label
    * while sparse bridges between them don't carry it over — the
    * standard near-linear community baseline (Raghavan et al. 2007).
    *
    * Determinism (the property plain LPA lacks): updates are
    * synchronous (every node recomputes from the SAME previous label
    * vector — no sequential/random order), and the plurality election
    * is totally ordered by (count desc, label asc) via one min(struct)
    * aggregate. Including the self-label both regularizes oscillation
    * (the lazy-dynamics trick) and makes round 0 well-defined. The
    * fixed point is a function of the graph alone, so a DuckDB oracle
    * replays the identical rounds; runs past the fixed point are
    * no-ops, which is what lets the oracle unroll a fixed round count
    * ≥ the convergence round ([[ssspWeighted]]'s contract). If
    * `maxRounds` arrives before the fixed point the op THROWS — never
    * silently-wrong communities (the [[connectedComponents]]
    * discipline).
    *
    * Scale shape, per round: the label vector (16 B/node) broadcasts
    * into the symmetric-edge join under the adaptive guard
    * ([[decideBroadcast]]) — the edge list never shuffles for it; the
    * candidate counts and plurality election are two node-keyed int64
    * aggs; convergence is one aggregated driver-side scalar; lineage
    * is cut per round with eager localCheckpoint. Rounds are
    * O(community mixing time) — small for the cohesive groups LPA
    * targets.
    *
    * Input: directed edge list (src, dst); de-duplicated undirected
    * internally, self-loops dropped. Output: (node, community) for
    * every node with ≥ 1 edge.
    */
  def labelPropagation(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1)
    val e = edges.filter(col("src") =!= col("dst"))
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    var lbl = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    val bc = decideBroadcast(lbl.count(), broadcastBudget(edges.sparkSession))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val l = if (bc) broadcast(lbl) else lbl
      // Closed-neighborhood label multiset: one row per (neighbor
      // label arriving over an edge) plus the node's own label.
      // The self-vote row carries the node's previous label through
      // both aggregation levels (exactly one non-null prev per node),
      // so the convergence count is a filter over the checkpointed
      // frame — no per-round next ⋈ lbl join. Vote counts and the
      // election are unchanged.
      val cand = sym.join(l, sym("u") === l("node"))
        .select(sym("v").as("node"), l("community"),
          lit(null).cast("long").as("prev"))
        .union(lbl.select(col("node"), col("community"),
          col("community").as("prev")))
        .groupBy("node", "community")
        .agg(count(lit(1)).as("c"), max("prev").as("prev"))
      // Plurality election, totally ordered: min over (-count, label)
      // structs ≡ (count desc, label asc) — one agg, no window.
      val next = cand
        .groupBy("node").agg(min(struct((-col("c")).as("nc"),
          col("community").as("community"))).as("m"),
          max("prev").as("prev"))
        .select(col("node"), col("m.community").as("community"), col("prev"))
        .localCheckpoint(true)
      val changed = next.filter(col("community") =!= col("prev")).count()
      lbl = next.select("node", "community")
      converged = changed == 0L
    }
    if (!converged) throw new IllegalStateException(
      s"labelPropagation did not reach a fixed point in $maxRounds rounds; " +
        "raise maxRounds (or the graph oscillates beyond the lazy damping)")
    lbl
  }

  /** WEIGHTED label propagation — [[labelPropagation]] with the vote
    * multiset weighted by edge weight (the q_pagerank_weighted /
    * q_sssp_weighted user-graph shape: weights arrive as a COLUMN):
    * label score at a node = Σ w over incident edges carrying that
    * label, plus the self-label at weight 1 (the same lazy-damping
    * regularizer), elected by the (score desc, label asc) total order.
    * Directed input (src, dst, w) is collapsed to an undirected simple
    * weighted graph — min(w) per unordered pair, the engine-portable
    * collapse [[weightedEdgesFromLineitem]] pins. Same broadcast and
    * lineage-cut discipline as the unweighted op.
    *
    * FIXED-ROUND contract, not fixpoint-or-throw: under weighted
    * votes the unit self-vote no longer damps simultaneous swaps, and
    * synchronous weighted LPA settles into stable 2-cycles on sparse
    * graphs (measured on the fixture: changed-count constant forever;
    * parity-alternating updates merely move the cycle inside each
    * parity class). The ecosystem's answer is the same one GraphX /
    * GraphFrames ship: run exactly `rounds` synchronous rounds and
    * return that state — fully deterministic (total-order election,
    * no RNG), so a DuckDB oracle unrolling the same `rounds` lands on
    * the identical labeling whether or not a fixed point exists. The
    * unweighted [[labelPropagation]] keeps its stronger
    * fixpoint-or-throw contract (unit votes + lazy damping converge
    * there, spec-pinned).
    */
  def labelPropagationWeighted(wEdges: DataFrame,
                               rounds: Int = 10): DataFrame = {
    require(rounds >= 1)
    val und = wEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
    val sym = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(und.select(col("b").as("u"), col("a").as("v"), col("w")))
      .localCheckpoint(true)
    var lbl = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    val bc = decideBroadcast(lbl.count(), broadcastBudget(wEdges.sparkSession))
    for (_ <- 1 to rounds) {
      val l = if (bc) broadcast(lbl) else lbl
      val cand = sym.join(l, sym("u") === l("node"))
        .select(sym("v").as("node"), l("community"), sym("w"))
        .union(lbl.select(col("node"), col("community"), lit(1L).as("w")))
        .groupBy("node", "community").agg(sum("w").as("s"))
      lbl = cand
        .groupBy("node").agg(min(struct((-col("s")).as("ns"),
          col("community").as("community"))).as("m"))
        .select(col("node"), col("m.community").as("community"))
        .localCheckpoint(true)
    }
    lbl
  }

  /** Modularity of a community assignment over the undirected simple
    * graph — the quality metric that makes [[labelPropagation]]'s output
    * judgeable (the graph twin of k-means inertia): per community c,
    * e_c = intra-community edge count, d_c = Σ member degrees, and the
    * contribution q_c = e_c/m − (d_c/(2m))²; Q = Σ q_c. All inputs are
    * exact int64 (one endpoint-label join + two keyed aggs; the label
    * vector broadcasts under the adaptive guard); the contributions are
    * terminal IEEE expressions of exact integers, engine-identical.
    * Output: (community, n_nodes, intra_edges, deg_sum, q_contrib).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bc =
      decideBroadcast(labels.count(), broadcastBudget(edges.sparkSession))
    val l = if (bc) broadcast(labels) else labels
    val la = l.select(col("node").as("a"), col("community").as("ca"))
    val lb = l.select(col("node").as("b"), col("community").as("cb"))
    val m = und.count()
    val intra = und.join(la, "a").join(lb, "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degs = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(l, "node")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
    degs.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("deg_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") / m -
          (col("deg_sum").cast("double") / (2.0 * m)) *
          (col("deg_sum").cast("double") / (2.0 * m))).as("q_contrib"))
  }

  /** Degree distribution — the graph-profiling pass run before choosing
    * a partitioning/broadcast strategy: undirected degree per node,
    * re-aggregated to (degree, n_nodes). Two keyed int64 aggs; at most
    * max-degree rows out at any graph size.
    */
  def degreeDistribution(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Per-node triangle counts via the degree-ordered node-iterator —
    * the classic O(m^1.5) triangle algorithm (Schank/Wagner; the shape
    * behind every distributed triangle count since MR "Counting
    * Triangles in Massive Graphs"). Each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, so every
    * vertex's out-degree is O(√m) regardless of skew — a star graph's
    * hub gets ALL edges pointed at it and generates zero wedges, which
    * is what makes wedge generation bounded at 100 TB where the naive
    * u-centered enumeration explodes on hot vertices. Wedges (u→v, u→w)
    * with (deg,id)-ordered v < w close iff the oriented edge v→w exists
    * — each triangle counted exactly once, then exploded to its three
    * corners for per-node counts.
    *
    * Shuffle shape: degree agg (int64 rows), one broadcastable degree
    * attach, wedge self-join keyed on u, closing equi-join keyed on
    * (v, w), final count agg — every exchange carries only node-id/deg
    * int64s. `edges`: (src, dst) directed or undirected; self-loops and
    * duplicate/reciprocal pairs collapse. Output: (node, n_tri) for
    * nodes in ≥1 triangle.
    *
    * The degree table is 16 B/node — broadcastable to ~10^8 nodes, but
    * a 10^9-node graph (plausible at a 100 TB edge list) would be a
    * ~16 GB broadcast that dies at plan time. Past the session budget
    * ([[decideBroadcast]]) the degree attach shuffles instead (two
    * extra int64-only exchanges, same result); setting
    * `spark.sql.autoBroadcastJoinThreshold=-1` forces that plan.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleKernel(edges)._3

  /** The triangle computation with its internals exposed:
    * (und, deg, tri) — the de-duplicated undirected edge set, the
    * undirected degree table, and the per-node triangle counts, where
    * und and deg are the SAME persisted DataFrames the triangle pass
    * used. Compositions over triangles + degrees
    * ([[clusteringCoefficient]]) reuse them instead of re-running the
    * distinct + degree agg scans.
    */
  private[graft] def triangleKernel(
      edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (deg, id) total order orients each edge; broadcast the degree
    // table (16 B/node) so the edge list never shuffles to attach it —
    // unless |V|·16 B exceeds the session broadcast budget, in which
    // case the attach shuffles. One aggregated pass supplies both the
    // broadcast decision (|V|) and the id span for the encoded closing
    // key below.
    val degStats = deg.agg(count(lit(1)), max("node")).head()
    val bc = decideBroadcast(degStats.getLong(0),
      broadcastBudget(edges.sparkSession))
    val idSpan = // empty graph ⇒ max is null; any span works (no rows)
      (if (degStats.isNullAt(1)) 0L else degStats.getLong(1)) + 1L
    val hint: DataFrame => DataFrame =
      if (bc) broadcast else _.hint("shuffle_hash")
    val da = hint(deg.select(col("node").as("a"), col("deg").as("da")))
    val db = hint(deg.select(col("node").as("b"), col("deg").as("db")))
    val oriented = und.join(da, "a").join(db, "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi"), col("db").as("hd")))
        .otherwise(
          struct(col("b").as("lo"), col("a").as("hi"), col("da").as("hd")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"), col("e.hd").as("hd"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Wedges (u→v, u→w), (deg,id)-ordered v < w, generated from each
    // center's SORTED out-adjacency array (sort_array over (hd, hi)
    // structs IS the (deg, id) order): one exchange keyed on u
    // replaces the former o1×o2 self-join's exchange + two sorts, each
    // wedge emitted exactly once, and the closing pair travels as ONE
    // encoded int64 v·idSpan + w (§2.3 narrower types — out-degrees
    // are O(√m) by the orientation, so arrays stay small at any
    // scale). The tiny post-agg array frame is re-spread before the
    // explode: AQE's byte-based coalescing cannot see the ~deg²
    // generator fan-out and would serialize wedge generation.
    val centers = oriented
      .groupBy(col("lo").as("u"))
      .agg(sort_array(collect_list(struct(col("hd"), col("hi")))).as("ns"))
      .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions)
    // Closing join shuffled-hash by hint: the build side is the
    // oriented edge list (one key per edge), the probe side the ~Σdeg²
    // wedge stream — a sort-merge join here would pay an
    // O(wedges log wedges) sort for nothing.
    // Key width is a plan-build-time branch: the encoded int64
    // v·idSpan + w needs idSpan² < 2^63; a graph with ids past
    // ~3.04·10⁹ (snowflake-style 64-bit ids) falls back to the
    // two-column (v, w) key instead of refusing to run — zero cost in
    // the common case ([[EncodedPairMaxSpan]]).
    val closed =
      if (idSpan <= EncodedPairMaxSpan) {
        val wedges = centers.select(col("u"), explode(expr(
          s"""if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    element_at(ns, i).hi * ${idSpan}L + y.hi))))""")).as("vw"))
        val closing = oriented
          .select((col("lo") * idSpan + col("hi")).as("vw"))
          .hint("shuffle_hash")
        wedges.join(closing, Seq("vw"))
          .select(col("u"), expr(s"vw div ${idSpan}L").as("v"),
            (col("vw") % idSpan).as("w"))
      } else {
        val wedges = centers.select(col("u"), explode(expr(
          """if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    struct(element_at(ns, i).hi AS v, y.hi AS w)))))"""))
            .as("vw"))
          .select(col("u"), col("vw.v").as("v"), col("vw.w").as("w"))
        val closing = oriented
          .select(col("lo").as("v"), col("hi").as("w")).hint("shuffle_hash")
        wedges.join(closing, Seq("v", "w"))
      }
    val tri = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    (und, deg, tri)
  }

  /** Persist the base snapshot's TOTAL triangle count — the artifact
    * half of incremental triangle maintenance ([[triangleIncrement]]):
    * one int64 row per snapshot; the expensive degree-ordered wedge
    * enumeration over the full graph runs exactly here.
    */
  def writeTriangleBase(edges: DataFrame, path: String): Unit =
    triangleCounts(edges)
      .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("t_base"))
      .write.mode("overwrite").parquet(path)

  /** Incremental triangle counting on edge arrivals — the delta rule
    * for the graph's most quadratic statistic: with G the base simple
    * graph (canonical a<b pairs), D a DISJOINT batch of new edges, and
    * T(G) read from the persisted artifact,
    *
    *   T(G∪D) = T(G) + t1 + t2 + t3
    *
    * partitioned by how many delta edges each new triangle contains —
    * each category counted exactly once by construction: t1 = Δ-edge
    * (u,v) closed by a base wedge (two joins of D against the base
    * adjacency — work O(|D|·deg), the base wedge space is NEVER
    * re-enumerated); t2 = Δ-Δ wedge (its unique meeting vertex) closed
    * by one base-edge lookup; t3 = triangles wholly inside D (the
    * standard kernel on the tiny batch). Output: one row
    * (t_base, t1, t2, t3, t_total), all exact int64 — the oracle
    * re-enumerates the union with per-triangle delta-edge tags and must
    * land on the same partition.
    *
    * HUB EXPOSURE (the t1 term's cost contract): t1 joins each delta
    * edge against the FULL base adjacency of both endpoints —
    * O(Σ_{(u,v)∈D} deg(u)+deg(v)) — with no analogue of
    * [[linkPredict]]'s deg ≤ 256 wedge cap, because capping here would
    * silently UNDERCOUNT triangles (the count is exact by contract,
    * and the oracle pins it). On power-law graphs one delta edge
    * touching a supernode therefore pays that node's full degree;
    * callers maintaining truly hub-heavy graphs should pre-split such
    * batches (route supernode-incident edges to the periodic snapshot
    * rebuild, which pays the kernel's degree-ordered cost once)
    * rather than expect the delta rule to absorb them.
    */
  def triangleIncrement(base: DataFrame, delta: DataFrame,
                        basePath: String): DataFrame = {
    val spark = base.sparkSession
    val gsym = base.select(col("a").as("u"), col("b").as("v"))
      .union(base.select(col("b").as("u"), col("a").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val d = delta.select(col("a").as("du"), col("b").as("dv"))
    val t1 = d
      .join(gsym.select(col("u").as("du"), col("v").as("w")), "du")
      .join(gsym.select(col("u").as("dv"), col("v").as("w")),
        Seq("dv", "w"))
      .agg(count(lit(1)).as("t1"))
    val dsym = delta.select(col("a").as("x"), col("b").as("y"))
      .union(delta.select(col("b").as("x"), col("a").as("y")))
    val wedges = dsym.as("p")
      .join(dsym.as("q"),
        col("p.x") === col("q.x") && col("p.y") < col("q.y"))
      .select(col("p.y").as("y"), col("q.y").as("z"))
    val t2 = wedges
      .select(least(col("y"), col("z")).as("a"),
        greatest(col("y"), col("z")).as("b"))
      .join(base, Seq("a", "b"))
      .agg(count(lit(1)).as("t2"))
    val t3 = triangleCounts(
        delta.select(col("a").as("src"), col("b").as("dst")))
      .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("t3"))
    Tables.parquet(spark, basePath)
      .crossJoin(t1).crossJoin(t2).crossJoin(t3)
      .select(col("t_base"), col("t1"), col("t2"), col("t3"),
        (col("t_base") + col("t1") + col("t2") + col("t3"))
          .as("t_total"))
  }

  /** Local clustering coefficient — lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * on the de-duplicated undirected simple graph, for every node with
    * deg ≥ 2 (where the ratio is defined; triangle-free nodes report 0).
    * The "how clique-like is each neighborhood" profile that separates
    * community cores from pure hubs — degree alone can't.
    *
    * Composition, not a new algorithm: triangles AND degrees come from
    * ONE [[triangleKernel]] call (degree-ordered wedges, O(√m)
    * out-degree bound — the part that must survive 100 TB), so the
    * distinct + degree-agg scans the triangle pass already persisted
    * are reused, not recomputed, and the composition adds only the
    * node-id join and one division. Both int64 inputs are exact, so
    * the one IEEE division at the end is deterministic across engines
    * and partitionings. Exchanges carry only (node, count) int64 rows.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val (_, deg, tri) = triangleKernel(edges)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        col("deg"),
        ((coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
  }

  /** k-core decomposition by parallel peeling: repeatedly delete ALL
    * nodes of current degree < k (and their edges) until a fixpoint —
    * what remains is the maximal subgraph where every node keeps ≥ k
    * neighbors, the standard cohesion filter before community/triangle
    * analysis prunes the long degree-1 tail.
    *
    * Each round is two int64-only exchanges (degree count + two
    * left-semi restrictions on the survivor set); the edge payload
    * never widens. Rounds are O(peeling depth), not O(V): every round
    * removes every currently-underdegreed node at once. Same scale
    * discipline as [[connectedComponents]]: eager localCheckpoint
    * truncates lineage per round, convergence is a driver-side scalar
    * (the one sanctioned driver action), and non-convergence throws
    * rather than returning a half-peeled subgraph. The survivor set is
    * joined, not broadcast — it starts at |V| and can stay huge.
    *
    * Input: directed edge list (src, dst); de-duplicated undirected
    * internally. Output: (node, deg) for every k-core member, deg
    * being its degree INSIDE the core (≥ k by construction).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 40): DataFrame = {
    var und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    var nEdges = und.count()
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val next = und
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
      val nNext = next.count()
      converged = nNext == nEdges
      und = next
      nEdges = nNext
      it += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not reach a fixpoint in $maxIters rounds; " +
        "raise maxIters (peeling depth exceeds the cap)")
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Single-source BFS shortest-path levels over the undirected view of
    * the edge list: (node, dist) for every node within `maxDepth` hops
    * of `source`, dist = minimum hop count. Frontier expansion, one
    * round per level — the distributed BFS shape: each round joins the
    * current frontier against the edge list, then anti-joins the
    * visited set so a node is labeled exactly once, at its first
    * (= minimum) depth. Rounds are O(eccentricity), not O(V).
    *
    * Scale: the frontier is broadcast into the edge join (it is a set
    * of int64s — even a 10^8-node frontier is ~800 MB, and real
    * frontiers are far smaller), so the big edge table never shuffles
    * for the probe; a frontier past the session broadcast budget takes
    * a shuffled join instead, decided per round from its size
    * ([[decideBroadcast]]; `spark.sql.autoBroadcastJoinThreshold=-1`
    * forces the shuffled join). The visited set
    * is joined, not broadcast — it grows toward |V|. Each round
    * localCheckpoints the new frontier and visited set: lineage
    * truncation per round, same as [[connectedComponents]]. The
    * per-round emptiness check is an aggregated driver-side scalar —
    * the sanctioned convergence pattern.
    */
  def bfsLevels(edges: DataFrame, source: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val budget = broadcastBudget(spark)
    val sym = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var visited = Seq((source, 0)).toDF("node", "dist")
      .localCheckpoint(true)
    var frontier = visited.select("node")
    // The frontier grows and shrinks per level, so the broadcast
    // decision is re-made per round from the frontier size just counted
    // (the count doubles as the emptiness test — no extra action).
    var frontierRows = 1L
    var depth = 0
    var exhausted = false
    while (depth < maxDepth && !exhausted) {
      depth += 1
      val bc = decideBroadcast(frontierRows, budget, bytesPerRow = 8L)
      val f = if (bc) broadcast(frontier) else frontier
      val next = sym.join(f, sym("src") === f("node"))
        .select(sym("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      frontierRows = next.count()
      if (frontierRows == 0L) exhausted = true
      else {
        visited = visited
          .union(next.select(col("node"), lit(depth).as("dist")))
          .localCheckpoint(true)
        frontier = next
      }
    }
    visited
  }

  /** Single-source shortest paths over nonnegative integer edge
    * weights: Bellman-Ford rounds — each round min-merges the current
    * distance vector with every one-edge relaxation, so after round r
    * the vector holds exact shortest distances using ≤ r hops. Edge
    * weight is the symmetric pure function ((src + dst) % 9) + 1 of
    * the undirected pair (deterministic across engines and layouts).
    * Runs to the fixpoint and THROWS if `maxRounds` arrives first: the
    * oracle unrolls the same rounds as materialized CTEs, and unrolled
    * rounds past the fixpoint are no-ops, so convergence is the
    * contract that keeps both engines identical (the
    * [[connectedComponents]] fixpoint-or-throw discipline).
    *
    * Scale: the 16 B/node distance vector broadcasts into the edge
    * join — the big edge list never shuffles, and the only exchange
    * per round is the min re-aggregation keyed on node; past the
    * session broadcast budget the join shuffles instead
    * ([[decideBroadcast]]; `spark.sql.autoBroadcastJoinThreshold=-1`
    * forces it). Each round
    * localCheckpoints the merged vector (per-round lineage
    * truncation); the per-round improvement count is an aggregated
    * driver-side scalar — the sanctioned convergence pattern.
    * Output: (node, dist) for every node reachable from `source`.
    */
  def sssp(edges: DataFrame, source: Long, maxRounds: Int): DataFrame = {
    val sym = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .select(col("src"), col("dst"),
        (((col("src") + col("dst")) % 9) + 1).as("w"))
    ssspWeighted(sym, source, maxRounds)
  }

  /** General weighted single-source shortest paths: `edges` is a
    * DIRECTED edge list carrying its own nonnegative integer weight
    * column `(src, dst, w)` — a real user's first graph — where [[sssp]]
    * above is the fixture-weighted symmetric convenience wrapper.
    * Bellman-Ford min-merge rounds, fixpoint-or-throw, exactly as
    * documented on [[sssp]].
    *
    * Per round the work is ONE keyed exchange and ONE action: the relax
    * rows are unioned with the current vector tagged by origin, and the
    * min-merge aggregate carries BOTH the new distance and the old
    * distance (min over origin-tagged rows) through the same groupBy, so
    * improvement detection is a residual-free scan of the just-
    * checkpointed round output — no second join, no second exchange
    * (previously a per-round left-outer join + count doubled the round
    * cost). The same scan returns the vector row count, which feeds the
    * adaptive broadcast guard for the NEXT round ([[decideBroadcast]]):
    * the distance vector grows toward |V| as the frontier expands, so a
    * graph whose reachable set outgrows the broadcast budget flips to
    * the shuffled join mid-run instead of dying at plan time.
    */
  def ssspWeighted(edges: DataFrame, source: Long,
                   maxRounds: Int): DataFrame = {
    require(maxRounds >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val budget = broadcastBudget(spark)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint(true)
    var dist = Seq((source, 0L)).toDF("node", "dist").localCheckpoint(true)
    var distRows = 1L
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val bc = decideBroadcast(distRows, budget)
      val dd = if (bc) broadcast(dist) else dist
      val relax = e.join(dd, e("src") === dd("node"))
        .select(e("dst").as("node"), (dd("dist") + e("w")).as("dist"),
          lit(0).as("isold"))
      val merged = dist
        .select(col("node"), col("dist"), lit(1).as("isold"))
        .union(relax)
        .groupBy("node").agg(
          min("dist").as("dist"),
          min(when(col("isold") === 1, col("dist"))).as("od"))
        .localCheckpoint(true)
      val stats = merged.agg(
        count(when(col("od").isNull || col("dist") < col("od"), lit(1)))
          .as("improved"),
        count(lit(1)).as("n")).head()
      distRows = stats.getLong(1)
      if (stats.getLong(0) == 0L) converged = true
      else dist = merged.select("node", "dist")
    }
    if (!converged)
      throw new IllegalStateException(
        s"sssp did not reach a fixpoint in $maxRounds rounds")
    dist.select("node", "dist")
  }

  /** HITS fixed-point scale for hub/authority scores. Smaller than
    * [[Scale]] because each round multiplies a degree-sum by the scale
    * before the normalizing div: worst term maxdeg · HitsScale² must
    * stay under 2^63 → maxdeg < 9.2·10^6 at 10^6 scale (any real web
    * graph after the usual supernode capping; past that, drop a digit).
    */
  val HitsScale: Long = 1000000L

  /** HITS hubs/authorities (Kleinberg 1999) over a directed edge list —
    * fixed `iters` mutual-reinforcement rounds with MAX-normalization
    * instead of L2: dividing by the round's max score keeps every
    * intermediate an exact int64 (the [[pageRank]] fixed-point
    * discipline), converges to the same principal direction, and makes
    * the result bit-identical across partitionings and engines. Each
    * round: a(v) = Σ_{u→v} h(u), rescaled to [0, HitsScale]; then
    * h(u) = Σ_{u→v} a(v), rescaled. Nodes without in-links hold
    * authority 0; without out-links, hub 0.
    *
    * Scale shape: the score vector (≤ 16 B/node) broadcasts into the
    * edge join under the [[decideBroadcast]] guard — edges never
    * shuffle; per round the only corpus exchanges are the two keyed
    * re-aggregations, plus two 1-row max aggregates for the rescale
    * (in-plan cross joins, no driver collect). Lineage is cut every
    * half-round: each raw sum is localCheckpointed.
    */
  def hitsFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val n0 = nodes(e).persist(StorageLevel.MEMORY_AND_DISK)
    val bc = decideBroadcast(n0.count(), broadcastBudget(e.sparkSession))
    // ONE action per half-round: the raw sums are localCheckpoint-
    // materialized (≤ 16 B/node — cheap, and it keeps lineage from
    // nesting round over round), and the round's max rides the SAME
    // checkpointed frame as an in-plan broadcast scalar (a 1-row
    // cross-joined aggregate over the checkpointed raw — it re-reads
    // the materialized vector, never the prefix chain, so the loop
    // stays linear). The previous shape read the max back as a driver
    // scalar, paying a second action (and its jobs) per half-round.
    // Guarded div: an all-zero round (max = 0) yields score 0 for every
    // node — CaseWhen evaluates branches lazily, so the div never runs
    // against a zero max (the ANSI contract stays loud for real
    // overflow, silent never).
    def sumOver(scores: DataFrame, scoreCol: String, joinKey: String,
                outKey: String): DataFrame = {
      val r = if (bc) broadcast(scores) else scores
      val raw = e.join(r, e(joinKey) === r("node"))
        .groupBy(e(outKey).as("node")).agg(sum(scoreCol).as("raw"))
        .localCheckpoint(true)
      val mx = raw.agg(coalesce(max("raw"), lit(0L)).as("mraw"))
      n0.join(raw, Seq("node"), "left").crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("mraw") === 0L, lit(0L))
            .otherwise(expr(s"(coalesce(raw, 0L) * ${HitsScale}L) div mraw"))
            .as(scoreCol))
    }
    var hub = n0.select(col("node"), lit(HitsScale).as("h_fp"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = sumOver(hub, "h_fp", "src", "dst")
        .withColumnRenamed("h_fp", "a_fp")
      hub = sumOver(auth.withColumnRenamed("a_fp", "h_fp"), "h_fp",
        "dst", "src")
    }
    auth.join(hub, "node")
      .select(col("node"), col("a_fp"), col("h_fp"),
        (col("a_fp").cast("double") / HitsScale.toDouble).as("auth"),
        (col("h_fp").cast("double") / HitsScale.toDouble).as("hub"))
      .orderBy(col("a_fp").desc, col("node"))
  }

  /** Common-neighbor link prediction over the symmetrized graph: for
    * every non-adjacent pair reachable through a shared neighbor,
    * cn = |N(a) ∩ N(b)| and Jaccard = cn / |N(a) ∪ N(b)| (exact ppm
    * via int64 floor-div), top `k` by (cn desc, jacc desc, a, b) — a
    * deterministic total order, so the limit is stable. The candidate
    * generation is the triangle wedge join (never all pairs): cost
    * Σ_w deg(w)², the standard bound, with the same sparse-modulus
    * fixture q_triangle uses. TakeOrderedAndProject caps the result
    * driver-side at k rows.
    */
  def linkPredict(edges: DataFrame, k: Int,
                  maxNbrDeg: Long = 256L): DataFrame = {
    val undAll = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Hub cap — the supernode guard every production common-neighbor
    // job carries: neighbor SETS are restricted to members of degree
    // ≤ maxNbrDeg (a shared hub connects everything to everything and
    // carries no signal, while contributing deg² wedges — the skew
    // that kills the join at scale). Degrees, wedges, and Jaccard all
    // run on the pruned sets, so the semantics stay coherent:
    // "similarity of non-hub neighborhoods".
    val fullDeg = undAll.groupBy("b").agg(count(lit(1)).as("bdeg"))
    val und = undAll.join(fullDeg.filter(col("bdeg") <= maxNbrDeg), "b")
      .select("a", "b").persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    // Wedge pairs from per-center SORTED adjacency arrays (bounded by
    // the hub cap, so each array is ≤ maxNbrDeg entries): one exchange
    // keyed on the wedge center replaces the former self-join's two
    // exchanges + sort-merge, and each unordered pair (a < b) is
    // emitted exactly once, ENCODED as one int64 key a·idSpan + b —
    // the (a, b) two-column group-by/anti-join key narrowed to eight
    // bytes (§2.3 narrower types) for the ~Σdeg² aggregation that
    // dominates this operator. idSpan is derived from the data's max
    // id + 1 (one aggregated scalar over the persisted edge set), so
    // the encoding is collision-free for any id domain.
    val idSpan = { // empty graph ⇒ max is null; any span works (no rows)
      val r = undAll.agg(max(greatest(col("a"), col("b")))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0)) + 1L
    }
    // The center-array frame is tiny post-agg, so AQE coalesces it —
    // but the explode below multiplies rows ~Σdeg²/|centers|-fold, so
    // byte-sized coalescing would serialize the pair generation onto a
    // few tasks (the generator blind spot of advisory sizing, same at
    // any scale). Re-spread it to the configured shuffle parallelism
    // before exploding.
    val centerArrays = und.groupBy(col("b").as("w"))
      .agg(sort_array(collect_list(col("a"))).as("ns"))
      .repartition(und.sparkSession.sessionState.conf.numShufflePartitions)
    // Key width is a plan-build-time branch (the triangleKernel rule):
    // the encoded int64 needs idSpan² < 2^63; past
    // [[EncodedPairMaxSpan]] the pair travels as a two-column key
    // instead of refusing to run. Zero cost in the common case.
    val cand =
      if (idSpan <= EncodedPairMaxSpan) {
        val pairKeys = centerArrays.select(explode(expr(
          // size < 2 ⇒ no pairs (sequence(1, 0) would DESCEND to index 0)
          s"""if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    element_at(ns, i) * ${idSpan}L + y))))""")).as("ab"))
        val adjKeys = undAll.filter(col("a") < col("b"))
          .select((col("a") * idSpan + col("b")).as("ab"))
        pairKeys.groupBy("ab").agg(count(lit(1)).as("cn"))
          .join(adjKeys, Seq("ab"), "left_anti")
          .select(expr(s"ab div ${idSpan}L").as("a"),
            (col("ab") % idSpan).as("b"), col("cn"))
      } else {
        val pairKeys = centerArrays.select(explode(expr(
          """if(size(ns) < 2, array(),
                flatten(transform(sequence(1, size(ns) - 1), i ->
                  transform(slice(ns, i + 1, size(ns) - i), y ->
                    struct(element_at(ns, i) AS a, y AS b)))))""")).as("ab"))
          .select(col("ab.a").as("a"), col("ab.b").as("b"))
        val adjPairs = undAll.filter(col("a") < col("b"))
        pairKeys.groupBy("a", "b").agg(count(lit(1)).as("cn"))
          .join(adjPairs, Seq("a", "b"), "left_anti")
      }
    cand
      .join(deg.withColumnsRenamed(Map("a" -> "a", "deg" -> "dega")), "a")
      .join(deg.withColumnsRenamed(Map("a" -> "b", "deg" -> "degb")), "b")
      .select(col("a"), col("b"), col("cn"),
        expr("(1000000 * cn) div (dega + degb - cn)").as("jacc_ppm"))
      .orderBy(col("cn").desc, col("jacc_ppm").desc, col("a"), col("b"))
      .limit(k)
  }
}
