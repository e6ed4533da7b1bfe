package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — the
  * north-star ANN tier: brute-force cosine top-k as the exact baseline,
  * random-hyperplane LSH bucketing as the scale path, and embedding-cosine
  * near-dup pairing.
  *
  * Determinism strategy (shared with the DuckDB oracles in OracleSql):
  * embeddings are quantized to int64 (floor(x·10^6)), so dot products and
  * squared norms are EXACT integers — order-independent, identical on any
  * partition layout and in any engine. dot ≤ 64·(6·10^5)² ≈ 2.3·10^13 and
  * norms likewise sit far below 2^53, so the final cast to double is exact
  * and cosine = dot/(√na·√nb) is a fixed IEEE-754 expression both engines
  * evaluate bit-identically.
  *
  * Scale notes: scoring (quantize/dot/norm/bucket-signature) is pure
  * per-row expression work — whole-stage codegen, zero shuffle. The only
  * shuffles are the LSH bucket join (keyed, linear-ish) and the per-query
  * top-k window. Brute force broadcasts the (small) query set and never
  * shuffles the corpus; it exists as the exact baseline and recall oracle
  * for the LSH path.
  */
object SimilarityOps {

  /** Quantization scale: 1 unit = 10^-6. */
  val QScale = 1000000L

  /** Hyperplane LSH shapes over 64 dims — two deliberately different
    * bucket domains:
    *
    *  - Per-QUERY top-k (`lshTopK`): 2 tables × 6 planes = 64 buckets per
    *    table. Queries are few and broadcast, so candidate sets of ~n/64
    *    per table are the right recall/cost trade.
    *  - All-PAIRS near-dup (`embedNearDupPairs`): 5 tables × 16 planes =
    *    65,536 buckets per table. The pair path self-joins every bucket,
    *    so occupancy must shrink with domain width — the round-3
    *    2×64-bucket shape put ~n/64 vectors per bucket and made pair
    *    generation O((n/64)²), quadratic at large corpora. Longer
    *    signatures lose per-table recall (p^16 vs p^6); more tables
    *    compensate (1−(1−p^16)^5 ≈ 0.97 at near-dup p ≈ 0.96; measured
    *    ≥ 0.9 planted-pair recall on the fixture).
    */
  val LshTables = 2
  val LshPlanes = 6
  val PairTables = 5
  val PairPlanes = 16
  val Dims = 64

  /** Deterministic hyperplane weight for (table, plane, dim) — derived from
    * the portable hash so the oracle recomputes the identical planes.
    */
  def weight(t: Int, p: Int, i: Int): Long =
    DedupOps.hash60Local(s"hp-$t-$p-$i") % 2001 - 1000

  /** array<float> → exact int64 vector. */
  def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * QScale).cast("long"))

  /** Exact int64 dot product of two quantized vectors — the native codegen
    * expression (single primitive loop per row, no per-element lambda
    * dispatch, no intermediate array).
    */
  def dotL(a: Column, b: Column): Column =
    graft.functions.ArrayDotProduct(a, b)

  /** Built-ins-only fold form of dotL; same values (spec cross-checks the
    * native expression against it).
    */
  def dotLFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  def cosine(dot: Column, na2: Column, nb2: Column): Column =
    dot.cast("double") / (sqrt(na2.cast("double")) * sqrt(nb2.cast("double")))

  /** (vec_id, qv, n2): quantized vector + exact squared norm. */
  def withQuant(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n2", dotL(col("qv"), col("qv")))

  /** One LSH bucket signature expression for table `t`: `planes` sign
    * bits of hyperplane dots, packed little-endian. Pure codegen — the
    * plane weights are array literals, so no join and no shuffle.
    */
  private def bucketExpr(t: Int, qv: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val w = typedLit((0 until Dims).map(i => weight(t, p, i)))
      when(dotL(qv, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, t, bucket) rows — `tables` rows per vector. */
  def buckets(quant: DataFrame, tables: Int = LshTables,
              planes: Int = LshPlanes): DataFrame =
    quant.select(col("vec_id"), explode(array(
      (0 until tables).map(t =>
        struct(lit(t).as("t"), bucketExpr(t, col("qv"), planes).as("bucket"))): _*
    )).as("tb")).select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))

  /** Exact brute-force cosine top-k: the first `numQueries` vectors are the
    * query set (broadcast); every corpus vector is scored per-row. Output
    * (q_id, vec_id, cos_sim, rnk), rnk ≤ k per query, self-matches excluded.
    */
  def bruteTopK(emb: DataFrame, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val v = withQuant(emb).filter(col("n2") > 0)
    val q = v.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = broadcast(q).join(v, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(dotL(col("qqv"), col("qv")), col("qn2"), col("n2")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Truncated-dimension (Matryoshka) retrieval audit: per query, the
    * overlap between the full-dimension brute top-k and the top-k
    * computed over only the first `prefixDims` coordinates — the
    * number that decides whether an MRL-style prefix embedding can
    * serve first-stage retrieval (prefix search costs prefixDims/Dims
    * of the full dot product; the recall here is what that discount
    * buys). Truncate-then-quantize ≡ quantize-then-truncate (both
    * floor per-element), so the oracle re-derives both rankings
    * exactly; recall is an exact ppm of int counts.
    *
    * Scale shape: two [[bruteTopK]] passes (broadcast queries, one
    * per-query window each) + a (q_id, vec_id)-keyed semi join and a
    * ≤numQueries-row rollup. At production scale the prefix pass is
    * the cheap one by construction — that is the point being measured.
    */
  def truncDimRecall(emb: DataFrame, prefixDims: Int = 16,
                     numQueries: Int = 5, k: Int = 10): DataFrame = {
    val full = bruteTopK(emb, numQueries, k).select(col("q_id"), col("vec_id"))
    val trunc = bruteTopK(
      emb.select(col("vec_id"),
        slice(col("embedding"), 1, prefixDims).as("embedding")),
      numQueries, k).select(col("q_id"), col("vec_id"))
    val hits = full.join(trunc, Seq("q_id", "vec_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    full.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(hits, 0) * 1000000 div $k").as("recall_ppm"))
  }

  /** LSH-bucketed ANN top-k: candidates = vectors sharing any (table,
    * bucket) with the query; exact cosine + top-k within candidates only.
    * Same output shape as bruteTopK; recall < 1 by construction (that is
    * the 100 TB trade: candidates per query are ~n/64 per table instead
    * of n).
    *
    * Regime note (recorded by q_simsearch_recall): sign-bucket collision
    * probability is (1 − θ/π)^planes per table, so hyperplane LSH
    * recovers HIGH-cosine neighbors (near-dup, cos ≥ 0.9 → p ≈ 0.9^6) —
    * on a corpus whose true top-k are near-orthogonal (this fixture's
    * brute top-10 sit at cos 0.24-0.40 → p^6 ≈ 0.05) per-query recall
    * is honestly low, and no plane/table shape fixes that without
    * scanning a constant fraction of the corpus. For generic top-k in
    * that regime use ivfTopK (locality from coarse quantization, recall
    * 0.7-1.0 on the same fixture); keep LSH for the near-dup pair path
    * where its collision math is strong (plantedPairRecall ≥ 0.9).
    */
  def lshTopK(emb: DataFrame, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val v = withQuant(emb).filter(col("n2") > 0)
    val b = buckets(v)
    val qb = b.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    val cand = broadcast(qb).join(b, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val q = v.select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = cand.join(broadcast(q), "q_id").join(v, "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosine(dotL(col("qqv"), col("qv")), col("qn2"), col("n2")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** IVF shape: 16 centroids, 4 probed per query. Centroids are the first
    * `IvfCentroids` corpus vectors — deterministic in both engines; a
    * production build would swap in k-means centroids without changing
    * any plan shape (assignment/probe/scan are identical).
    */
  val IvfCentroids = 16
  val IvfProbes = 4

  /** Seed centroids: the first [[IvfCentroids]] corpus vectors —
    * deterministic in both engines.
    */
  private def seedCentroids(v: DataFrame): DataFrame =
    v.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("c_id"), col("qv").as("cv"), col("n2").as("cn2"))

  /** (vec_id, c_id, rc): every vector ranked against every centroid by
    * exact int64 squared distance ‖v‖² + ‖c‖² − 2·v·c (ties by c_id).
    * rc=1 is the cluster assignment; rc ≤ nProbe is the query probe set.
    * Centroids are broadcast; ranking is one window per vector.
    */
  private def centroidRanks(v: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("c_id").asc)
    v.join(broadcast(cent))
      .select(col("vec_id"), col("c_id"),
        (col("n2") + col("cn2") - lit(2L) * dotL(col("qv"), col("cv"))).as("d2"))
      .withColumn("rc", row_number().over(w))
  }

  /** INTEGER-LATTICE Lloyd training for the IVF coarse quantizer: `iters`
    * k-means steps where each new centroid is the per-dimension mean of
    * its cluster SNAPPED BACK to the int64 quantization lattice,
    * `floor(Σq / m)` (floor of a double division of exactly-representable
    * ints — engine-identical; plain integer `div`/`//` would disagree
    * between engines on negative sums, truncation vs floor). Snapping
    * costs less than one quantization unit (10^-6) of centroid precision
    * per step — irrelevant to cluster geometry — and buys the property
    * that matters here: centroids remain exact int64 vectors, so
    * assignment keeps using the same exact integer distances as the rest
    * of the ANN tier and the DuckDB oracle replays the whole training
    * bit-identically (the iteration count is fixed; convergence breaks
    * would be engine-dependent).
    *
    * Scale shape per iteration: one broadcast-join assignment pass (the
    * corpus never shuffles for it), one (c_id, dim)-keyed exact-int sum
    * — map-side combined, ≤ k·64 output rows — and a k-row rebuild.
    * Empty clusters keep their previous centroid (left-join + coalesce).
    */
  def kmeansCentroids(v: DataFrame, iters: Int = 2): DataFrame = {
    var cent = seedCentroids(v)
    for (_ <- 0 until iters) cent = lloydRound(v, cent)
    cent
  }

  /** Nearest-centroid assignment as ONE hash aggregate: min over
    * (d2, c_id) structs ≡ the centroidRanks rc=1 row (same exact
    * distances, same tie-break) without the per-vector sort window —
    * partially aggregated map-side, so the exchange carries one struct
    * per vector. The training loop's hot path; centroidRanks stays for
    * the probe path, which genuinely needs ranks 2..nProbe.
    */
  private[graft] def assignMin(v: DataFrame, cent: DataFrame): DataFrame =
    v.join(broadcast(cent))
      .select(col("vec_id"), struct(
          (col("n2") + col("cn2") - lit(2L) * dotL(col("qv"), col("cv")))
            .as("d2"),
          col("c_id").as("c_id")).as("dc"))
      .groupBy("vec_id").agg(min("dc").as("m"))
      .select(col("vec_id"), col("m.c_id").as("c_id"), col("m.d2").as("d2"))

  /** One integer-lattice Lloyd round: assignment pass (broadcast
    * centroids — the corpus never shuffles for it), per-(cluster, dim)
    * exact int64 sums (map-side combined, ≤ k·64 rows out), floor-snap
    * rebuild, empty clusters keep their previous centroid.
    *
    * ONE corpus-keyed exchange per round: `qv` rides the min-struct
    * assignment aggregate's TAIL — (d2, c_id) is unique per (vector,
    * centroid) candidate row, so the array field never participates in
    * the ordering — which hands the sum pass (c_id, qv) directly. The
    * previous shape aggregated (vec_id, c_id) and then REJOINED the
    * corpus to recover qv: a second corpus-sized exchange per round,
    * the dominant avoidable cost of a 100 TB × ~15-round training run.
    */
  private[graft] def lloydRound(v: DataFrame, cent: DataFrame): DataFrame = {
    val assignQ = v.join(broadcast(cent))
      .select(col("vec_id"), struct(
          (col("n2") + col("cn2") - lit(2L) * dotL(col("qv"), col("cv")))
            .as("d2"),
          col("c_id").as("c_id"),
          col("qv").as("qv")).as("dc"))
      .groupBy("vec_id").agg(min("dc").as("m"))
      .select(col("m.c_id").as("c_id"), col("m.qv").as("qv"))
    val sums = assignQ
      .select(col("c_id"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy("c_id", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("m"))
      .select(col("c_id"), col("dim"),
        floor(col("s").cast("double") / col("m")).cast("long").as("c"))
    val rebuilt = sums.groupBy("c_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cv"))
      .withColumn("cn2", dotL(col("cv"), col("cv")))
    cent.select(col("c_id"), col("cv").as("cv0"), col("cn2").as("cn20"))
      .join(rebuilt, Seq("c_id"), "left")
      .select(col("c_id"),
        coalesce(col("cv"), col("cv0")).as("cv"),
        coalesce(col("cn2"), col("cn20")).as("cn2"))
  }

  /** General k-means to the Lloyd FIXED POINT — [[kmeansCentroids]]
    * (the IVF trainer's fixed-round special case) generalized to
    * convergence-or-budget: rounds run until the centroid set is
    * bit-identical round-over-round, and if `maxIters` arrives first
    * the op THROWS instead of returning drifting centroids (the
    * [[graft.ops.GraphOps.connectedComponents]] discipline).
    *
    * The integer-lattice floor-snap is what makes "fixed point" a
    * well-defined, engine-portable predicate: centroids are exact
    * int64 vectors, so round-over-round equality is exact equality,
    * not an epsilon test — and once centroids repeat, assignments
    * repeat, so every further round is a no-op. That is the contract
    * that lets a DuckDB oracle unroll a fixed round budget ≥ the
    * convergence round and land on the identical centroid set
    * (the SSSP/LPA unroll pattern). Lloyd on a finite lattice with
    * the deterministic (d2, c_id) tie-break cannot oscillate without
    * strictly decreasing the (finite, nonnegative) within-cluster
    * cost, so the fixed point exists; `maxIters` guards the
    * pathological plateau-cycle case loudly.
    *
    * Scale shape per round is [[lloydRound]]'s: one broadcast-centroid
    * assignment pass and one (c_id, dim)-keyed exact-int agg whose
    * ≤ k·64-row result is collected; the rebuild and the convergence
    * compare are O(k·dims) driver arithmetic (no per-round lineage to
    * cut — centroids live on the driver between rounds, exactly like a
    * broadcast variable). Returns (c_id, cv, cn2, n_members, inertia) —
    * n_members and inertia (Σ exact int64 squared distance of members
    * to their centroid, the within-cluster-SSE quality metric every
    * k-means deployment monitors) from the final assignment pin the
    * clustering itself, not just the centroid geometry.
    */
  def kmeansFixpoint(v: DataFrame, maxIters: Int = 40): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    // Driver-held centroid state: k = [[IvfCentroids]] rows of 64
    // int64 dims — KB-scale, and already the broadcast side of every
    // round. Per round ONE distributed aggregation runs (broadcast
    // assignment min-struct + (c_id, dim) exact int64 sums, ≤ k·64
    // rows out) and is collected; the floor-snap rebuild, the
    // empty-cluster carry, and the exact round-over-round convergence
    // compare are O(k·dims) driver arithmetic. The former shape ran an
    // eager per-round localCheckpoint plus a k-row join + count() as a
    // SECOND action — tripling the round's job count to decide a
    // predicate over data that fits in one broadcast anyway. Identical
    // math: floor of a double division of exactly-representable ints,
    // cn2 via overflow-checked int64 (the ANSI loudness contract).
    // The quantized corpus is re-scanned and re-quantized every round
    // otherwise — pin it for the loop (the GraphOps ew/noIn
    // discipline; Bench clears the cache between queries). Partition
    // count follows the scan's natural splits: many at real scale,
    // and deliberately NOT re-spread locally — for a corpus this size
    // per-task fixed costs dominate, and measured round-robin /
    // hash-by-vec_id respreads made taskSec 25-45× worse.
    val vp = v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def toDf(c: Seq[(Long, Seq[Long], Long)]): DataFrame =
      c.toDF("c_id", "cv", "cn2")
    var cent: Seq[(Long, Seq[Long], Long)] = seedCentroids(v).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      .sortBy(_._1)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      it += 1
      val sums = vp.join(broadcast(toDf(cent)))
        .select(col("vec_id"), struct(
            (col("n2") + col("cn2") - lit(2L) * dotL(col("qv"), col("cv")))
              .as("d2"),
            col("c_id").as("c_id"),
            col("qv").as("qv")).as("dc"))
        .groupBy("vec_id").agg(min("dc").as("m"))
        .select(col("m.c_id").as("c_id"),
          posexplode(col("m.qv")).as(Seq("dim", "q")))
        .groupBy("c_id", "dim")
        .agg(sum("q").as("s"), count(lit(1)).as("m"))
        .collect()
        .groupBy(_.getLong(0))
      val next = cent.map { case (cid, cv0, cn20) =>
        sums.get(cid) match {
          case Some(rows) =>
            val cv: Seq[Long] = rows.sortBy(_.getInt(1)).map(r =>
              math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong).toSeq
            val cn2 = cv.foldLeft(0L)((a, x) =>
              Math.addExact(a, Math.multiplyExact(x, x)))
            (cid, cv, cn2)
          case None => (cid, cv0, cn20)
        }
      }
      converged = next == cent
      cent = next
    }
    if (!converged) throw new IllegalStateException(
      s"kmeansFixpoint did not converge in $maxIters Lloyd rounds; " +
        "raise maxIters (lattice plateau cycle or slow-mixing corpus)")
    val members = assignMin(vp, toDf(cent))
      .groupBy("c_id").agg(count(lit(1)).as("n_members"),
        sum("d2").as("inertia"))
    toDf(cent).join(members, Seq("c_id"), "left")
      .select(col("c_id"), col("cv"), col("cn2"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia"), lit(0L)).as("inertia"))
  }

  /** IVF ANN top-k: assign vectors to their nearest centroid, probe the
    * query's `IvfProbes` nearest clusters, exact cosine + top-k within
    * those clusters only. Same output shape as bruteTopK/lshTopK. At
    * scale: candidates per query ≈ nProbe/nCentroids of the corpus, and
    * the inverted file is one hash-partitioned table keyed by c_id.
    * Seed (first-N) centroids by default; `q_simsearch_ivf_kmeans` runs
    * the same index over [[kmeansCentroids]]-trained ones.
    */
  def ivfTopK(emb: DataFrame, numQueries: Int = 5, k: Int = 10,
              trainIters: Int = 0): DataFrame = {
    val v = withQuant(emb).filter(col("n2") > 0)
    val cent =
      if (trainIters == 0) seedCentroids(v) else kmeansCentroids(v, trainIters)
    val ranks = centroidRanks(v, cent)
    val assign = ranks.filter(col("rc") === 1).select("vec_id", "c_id")
    val probes = ranks.filter(col("vec_id") < numQueries && col("rc") <= IvfProbes)
      .select(col("vec_id").as("q_id"), col("c_id"))
    val cand = broadcast(probes).join(assign, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val q = v.select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = cand.join(broadcast(q), "q_id").join(v, "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosine(dotL(col("qqv"), col("qv")), col("qn2"), col("n2")).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Persist the IVF ANN index — the production serving shape: the
    * lattice-Lloyd-trained coarse quantizer under `path`/centroids
    * (k rows), the inverted-list assignment under `path`/assign
    * (vec_id → c_id — THE inverted file, hash-partitioned by c_id at
    * scale), and the quantized vectors under `path`/vectors. Trained
    * and written once per corpus snapshot; arriving queries then rank
    * the k stored centroids, probe `IvfProbes` lists by one keyed
    * join, and re-rank exact cosine over candidates only
    * ([[ivfProbeIncremental]]) — the corpus is never re-assigned at
    * query time.
    */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    trainIters: Int = 2): Unit = {
    val v = withQuant(corpus).filter(col("n2") > 0)
    val cent =
      if (trainIters == 0) seedCentroids(v) else kmeansCentroids(v, trainIters)
    val rebuild = SinkOps.CommitSpec(carryForward = false)
    SinkOps.commitVersion(cent, path + "/centroids", rebuild)
    SinkOps.commitVersion(assignMin(v, cent).select("vec_id", "c_id"),
      path + "/assign", rebuild)
    SinkOps.commitVersion(v, path + "/vectors", rebuild)
    ()
  }

  /** Incremental IVF top-k SERVING against [[writeIvfIndex]]'s
    * artifact: each arriving query ranks the (broadcast, k-row) stored
    * centroids by exact int64 distance, probes its [[IvfProbes]]
    * nearest inverted lists with one c_id-keyed join, recovers
    * candidate vectors by one vec_id-keyed join, and ranks exact
    * cosine — [[ivfTopK]]'s math with every corpus-side pass replaced
    * by an index read. Candidates per query ≈ nProbe/nCentroids of
    * the corpus; nothing else is scanned.
    */
  def ivfProbeIncremental(queries: DataFrame, indexPath: String,
                          k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    val cent = SinkOps.readVersion(spark, indexPath + "/centroids")
    val assign = SinkOps.readVersion(spark, indexPath + "/assign")
    val idxV = SinkOps.readVersion(spark, indexPath + "/vectors")
      .select(col("vec_id"), col("qv").as("vv"), col("n2").as("vn2"))
      .dropDuplicates("vec_id")
    val q = withQuant(queries).filter(col("n2") > 0)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val wp = Window.partitionBy("q_id").orderBy(col("d2").asc, col("c_id").asc)
    val probes = q.join(broadcast(cent))
      .select(col("q_id"), col("c_id"),
        (col("qn2") + col("cn2") - lit(2L) * dotL(col("qqv"), col("cv")))
          .as("d2"))
      .withColumn("rc", row_number().over(wp))
      .filter(col("rc") <= IvfProbes)
      .select("q_id", "c_id")
    val cand = broadcast(probes).join(assign, "c_id")
      .select("q_id", "vec_id").distinct()
    val scored = cand.join(broadcast(q), "q_id").join(idxV, "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosine(dotL(col("qqv"), col("vv")), col("qn2"), col("vn2"))
          .as("cos_sim"))
    val wr = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Product-quantization shape: 8 subspaces × 8 dims, 16 codewords per
    * subspace — 8 codes ≈ 4 bytes per vector vs 256 bytes of floats, the
    * 64× memory compression that lets a 100 TB embedding corpus's index
    * live in executor memory. Codebooks are the first [[PqCodes]] corpus
    * vectors' subvectors (deterministic in both engines, the IVF-seed
    * precedent; lattice-Lloyd training would swap in without changing
    * plan shape).
    */
  val PqSub = 8
  val PqSubDim: Int = Dims / PqSub
  val PqCodes = 16

  /** (vec_id, m, sv, svn2): each quantized vector split into [[PqSub]]
    * subvectors with exact subspace norms. Pure per-row generate.
    */
  private def subVectors(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
        explode(array((0 until PqSub).map(m =>
          struct(lit(m).as("m"),
            slice(col("qv"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
      .withColumn("svn2", dotL(col("sv"), col("sv")))

  /** PQ ANN top-k by asymmetric distance (ADC): corpus vectors are
    * encoded once as 8 codebook indices (nearest codeword per subspace,
    * exact int64 subspace distances, ties by codeword id); each query
    * scores the COMPRESSED corpus by summing its per-subspace
    * query→codeword distance table over the stored codes. Distances are
    * estimates (that is PQ's trade) but every intermediate is an exact
    * integer, so ranking is bit-identical across engines and layouts.
    *
    * Scale shape: encoding is a broadcast-codebook join + per-(vector,
    * subspace) argmin window — corpus never shuffles except keyed on its
    * own (vec_id, m) rows; the ADC scan joins the 8-codes-per-vector
    * table against a BROADCAST (numQueries × 8 × 16)-row distance table
    * and map-side-combines the 8 partial sums before the one (q_id,
    * vec_id)-keyed exchange feeding the per-query top-k. Nothing wider
    * than int64 ids ever moves. Output (q_id, vec_id, adc_d2, rnk ≤ k).
    */
  def pqTopK(emb: DataFrame, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val v = withQuant(emb).filter(col("n2") > 0)
    val sub = subVectors(v)
    val cb = sub.filter(col("vec_id") < PqCodes)
      .select(col("m"), col("vec_id").cast("int").as("kc"),
        col("sv").as("cw"), col("svn2").as("cwn2"))
    val d2all = sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("kc"),
        (col("svn2") + col("cwn2") - lit(2L) * dotL(col("sv"), col("cw")))
          .as("d2"))
    val wEnc = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("kc").asc)
    val enc = d2all.withColumn("rc", row_number().over(wEnc))
      .filter(col("rc") === 1)
      .select(col("vec_id"), col("m"), col("kc").as("code"))
    val qdt = d2all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("kc").as("code"),
        col("d2").as("d2q"))
    val adc = enc.join(broadcast(qdt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum("d2q").as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Persist the PQ ANN index — compressed serving at scale: the
    * per-subspace codebooks under `path`/codebooks (PqSub × PqCodes
    * rows) and every corpus vector's 8 codebook indices under
    * `path`/codes — ~4 B per vector, the 64× compression that lets a
    * 100 TB embedding corpus's index live in executor memory. Encoded
    * once per snapshot; arriving queries then compute their own
    * (numQueries × 8 × 16)-row distance tables against the stored
    * codebooks and ADC-scan the stored codes ([[pqProbeIncremental]])
    * — the full-precision corpus is never read at query time.
    */
  def writePqIndex(corpus: DataFrame, path: String): Unit = {
    val v = withQuant(corpus).filter(col("n2") > 0)
    val sub = subVectors(v)
    val cb = sub.filter(col("vec_id") < PqCodes)
      .select(col("m"), col("vec_id").cast("int").as("kc"),
        col("sv").as("cw"), col("svn2").as("cwn2"))
    val rebuild = SinkOps.CommitSpec(carryForward = false)
    SinkOps.commitVersion(cb, path + "/codebooks", rebuild)
    val d2all = sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("kc"),
        (col("svn2") + col("cwn2") - lit(2L) * dotL(col("sv"), col("cw")))
          .as("d2"))
    val wEnc = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("kc").asc)
    SinkOps.commitVersion(d2all.withColumn("rc", row_number().over(wEnc))
      .filter(col("rc") === 1)
      .select(col("vec_id"), col("m"), col("kc").as("code")),
      path + "/codes", rebuild)
    ()
  }

  /** Incremental PQ top-k SERVING against [[writePqIndex]]'s artifact
    * by asymmetric distance: each arriving query splits into
    * subvectors, scores the BROADCAST stored codebooks into its
    * distance table, and ADC-scans the stored codes with one
    * (m, code)-keyed join + map-side-combined sums — [[pqTopK]]'s math
    * with the encode pass replaced by the index read. Output
    * (q_id, vec_id, adc_d2, rnk ≤ k); every intermediate an exact
    * integer.
    */
  def pqProbeIncremental(queries: DataFrame, indexPath: String,
                         k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    val cb = SinkOps.readVersion(spark, indexPath + "/codebooks")
    val codes = SinkOps.readVersion(spark, indexPath + "/codes")
      .dropDuplicates("vec_id", "m")
    val q = withQuant(queries).filter(col("n2") > 0)
    val qdt = subVectors(q).join(broadcast(cb), "m")
      .select(col("vec_id").as("q_id"), col("m"), col("kc").as("code"),
        (col("svn2") + col("cwn2") - lit(2L) * dotL(col("sv"), col("cw")))
          .as("d2q"))
    val adc = codes.join(broadcast(qdt), Seq("m", "code"))
      .groupBy("q_id", "vec_id").agg(sum("d2q").as("adc_d2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Recall@k audit of the approximate searches against the exact brute
    * baseline: per query, the number of true top-k neighbors each
    * approximate path recovered, as exact integers (hash-stable in any
    * engine — the division to a recall fraction is the reader's). The
    * quality loop every ANN deployment needs: at 100 TB you run it over
    * a sampled query set, and a recall regression (bad hyperplanes,
    * too-few probes) shows up as a dropped count, not a silent quality
    * cliff. Composes three already-verified queries; candidate hit
    * checks are per-query left-semi joins on (q_id, vec_id).
    */
  def recallAtK(emb: DataFrame, numQueries: Int = 5, k: Int = 10): DataFrame = {
    val brute = bruteTopK(emb, numQueries, k).select("q_id", "vec_id")
    def hits(approx: DataFrame, name: String) =
      brute.join(approx.select("q_id", "vec_id"),
          Seq("q_id", "vec_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as(name))
    brute.groupBy("q_id").agg(count(lit(1)).as("n_true"))
      .join(hits(lshTopK(emb, numQueries, k), "lsh_hits"), Seq("q_id"), "left")
      .join(hits(ivfTopK(emb, numQueries, k), "ivf_hits"), Seq("q_id"), "left")
      .join(hits(pqTopK(emb, numQueries, k), "pq_hits"), Seq("q_id"), "left")
      .select(col("q_id"), col("n_true"),
        coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
        coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"),
        coalesce(col("pq_hits"), lit(0L)).as("pq_hits"))
  }

  /** Planted-pair recall of the embedding near-dup path, one row of
    * exact counts: `n_planted` = duplicated-corpus pairs (v, v+10^6)
    * whose exact cosine clears minCos — ground truth by a direct id
    * join, no LSH involved — and `n_found` = how many of those
    * embedNearDupPairs recovered through its bucket-join candidate
    * generator. The ≥ 0.9 recall claim the pair-domain shape (5 tables
    * × 16 planes) was sized for, as a driver-checkable record.
    */
  def plantedPairRecall(emb: DataFrame, minCos: Double = 0.95): DataFrame = {
    val corpus = embedDupCorpus(emb)
    val v = withQuant(corpus).filter(col("n2") > 0)
    val a = v.filter(col("vec_id") < 1000000L)
      .select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("n2").as("na"))
    val b = v.filter(col("vec_id") >= 1000000L)
      .select(col("vec_id").as("vec_b"), col("qv").as("qb"), col("n2").as("nb"))
    val planted = a.join(b, col("vec_b") === col("vec_a") + 1000000L)
      .filter(cosine(dotL(col("qa"), col("qb")), col("na"), col("nb")) >= minCos)
      .select("vec_a", "vec_b")
    val found = embedNearDupPairs(corpus, minCos)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("hit"))
    planted.join(found, Seq("vec_a", "vec_b"), "left")
      .agg(count(lit(1)).as("n_planted"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_found"))
  }

  /** Per-dimension corpus statistics over the embedding column — the
    * dataset-profiling pass a training pipeline runs before whitening /
    * normalization. posexplode fans each vector into (dim, q) rows; one
    * dim-keyed aggregation yields exact int64 moments (|q| ≤ ~10^6, so
    * Σq and Σq² sit far below 2^63 even at billions of vectors — the cast
    * to DECIMAL guards Σq² anyway). Means are IEEE divisions of exact
    * ints: bit-identical in any engine. 64 output rows regardless of
    * corpus size.
    */
  def dimStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(quantize(col("embedding"))).as(Seq("dim", "q")))
      .select(col("dim").cast("long").as("dim"), col("q"))
      .groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum("q").as("sum_q"),
        sum((col("q") * col("q")).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("sum_q2"),
        min("q").as("min_q"),
        max("q").as("max_q"))
      .select(col("dim"), col("n"), col("sum_q"), col("sum_q2"),
        col("min_q"), col("max_q"),
        (col("sum_q").cast("double") / col("n")).as("mean_q"))

  /** Fit a per-dimension min-max scaler on the quantized lattice and
    * persist it — the feature-normalization artifact every embedding
    * pipeline fits once per snapshot and applies to every later batch
    * (fit/transform must NOT re-fit on arrivals, or train/serve skew
    * appears): `Dims` rows of (dim, min_q, max_q), a dim-keyed exact
    * agg over int64 quantized values.
    */
  def fitWriteScaler(emb: DataFrame, path: String): Unit =
    emb.select(posexplode(quantize(col("embedding"))).as(Seq("dim", "q")))
      .select(col("dim").cast("long").as("dim"), col("q"))
      .groupBy("dim").agg(min("q").as("min_q"), max("q").as("max_q"))
      .write.mode("overwrite").parquet(path + "/scaler")

  /** Apply the PERSISTED scaler to a batch: clamp each value into the
    * fitted range (arrivals legitimately exceed it — that is the skew
    * the clamp absorbs and the `n_clamped` counter reports), then
    * min-max scale to [0, 10^6] by integer floor division — exact
    * int64 end-to-end, so the oracle replays fit+apply bit-identically.
    * Output: a per-vector digest (n_dims, scaled sum/min/max, clamp
    * count). Scale shape: the `Dims`-row artifact broadcasts; one
    * map-side expression pass + one vec-keyed agg — the batch never
    * shuffles raw vectors.
    */
  def applyScaler(emb: DataFrame, path: String): DataFrame = {
    val sc = broadcast(Tables.parquet(emb.sparkSession, path + "/scaler"))
    emb.select(col("vec_id"),
        posexplode(quantize(col("embedding"))).as(Seq("dim", "q")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("q"))
      .join(sc, "dim")
      .select(col("vec_id"),
        expr("(least(greatest(q, min_q), max_q) - min_q) * 1000000" +
          " div greatest(max_q - min_q, 1)").as("scaled"),
        (col("q") < col("min_q") || col("q") > col("max_q"))
          .cast("long").as("clamped"))
      .groupBy("vec_id").agg(
        count(lit(1)).as("n_dims"),
        sum("scaled").as("sum_scaled"),
        min("scaled").as("min_scaled"),
        max("scaled").as("max_scaled"),
        sum("clamped").as("n_clamped"))
  }

  // ---- persisted embedding-ANN index + incremental probe ----
  // The r8 text-index discipline (DedupOps.writeMinhashIndex /
  // dedupMinhashIncremental, DedupOps.scala) applied to vectors: the
  // corpus's LSH bucket rows and quantized vectors are persisted ONCE
  // per snapshot; every arrivals batch then builds signatures for
  // ITSELF ONLY and probes the index with keyed joins — O(arrivals)
  // per batch, the corpus never re-scored.

  /** Persist the ANN index of a known corpus under `path`:
    *
    *  - `path`/vectors — (vec_id, qv, n2): quantized vectors + exact
    *    norms, stored ONCE (not per bucket row — at 512 B per 64-dim
    *    int64 vector, riding the 5-way bucket explode would 5× the
    *    index; the probe recovers them with one vec_id-keyed join).
    *  - `path`/buckets — (vec_id, t, bucket, occ): hyperplane-LSH
    *    bucket rows in the given (tables, planes) domain, `occ` the
    *    bucket's occupancy at write time (the [[embedNearDupPairs]]
    *    `maxBucket` degenerate-bucket guard, precomputed so the probe
    *    never re-aggregates the index; appends recompute it
    *    within-batch only — occupancy drift across appends is accepted
    *    until the periodic snapshot rebuild, the
    *    [[graft.ops.DedupOps.assignClustersIncremental]] contract).
    *
    * Domain choice: near-dup probing writes the PAIR domain (5×16,
    * default); a top-k serving index writes the QUERY domain (2×6,
    * [[LshTables]]/[[LshPlanes]]) — same writer, same probe math.
    * At 100 TB partition `buckets` by (t, bucket-range) and bucket
    * `vectors` by vec_id so the probe's two joins co-locate.
    */
  def writeEmbedIndex(corpus: DataFrame, path: String,
                      tables: Int = PairTables,
                      planes: Int = PairPlanes): Unit =
    commitEmbedIndex(corpus, path, tables, planes,
      SinkOps.CommitSpec(carryForward = false))

  /** Index MAINTENANCE — append an admitted batch's vectors and bucket
    * rows so the NEXT batch's twins of these vectors are caught.
    * O(batch) commits; the index never rewrites. `occ` is the
    * within-batch occupancy (see [[writeEmbedIndex]]); duplicate
    * vec_ids across replayed appends are tolerated by the probe's
    * dropDuplicates read.
    */
  def appendToEmbedIndex(admitted: DataFrame, path: String,
                         tables: Int = PairTables,
                         planes: Int = PairPlanes): Unit =
    commitEmbedIndex(admitted, path, tables, planes, SinkOps.CommitSpec())

  /** The one body of [[writeEmbedIndex]] (a replacing commit) and
    * [[appendToEmbedIndex]] (an appending one): each index table is a
    * [[SinkOps.commitVersion]] table under `path`.
    */
  private def commitEmbedIndex(rows: DataFrame, path: String, tables: Int,
                               planes: Int, spec: SinkOps.CommitSpec): Unit = {
    // Two commits over one quantized frame — pin it so the second
    // re-reads the cache instead of re-quantizing (or re-running an
    // expensive upstream subplan, such as an append's verdict chain).
    val v = withQuant(rows).filter(col("n2") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      SinkOps.commitVersion(v, path + "/vectors", spec)
      SinkOps.commitVersion(buckets(v, tables, planes)
        .withColumn("occ", count(lit(1)).over(Window.partitionBy("t", "bucket"))),
        path + "/buckets", spec)
    } finally { v.unpersist(); () }
    ()
  }

  /** Embed-index COMPACTION — [[graft.ops.DedupOps.compactMinhashIndex]]'s
    * discipline with one extra duty: besides deduplicating replayed
    * append rows (vectors by full row, bucket rows by (vec_id, t,
    * bucket)), it RECOMPUTES `occ` globally over the compacted bucket
    * table — restoring the exact [[writeEmbedIndex]] snapshot
    * invariant that appends erode (each append only knows its own
    * within-batch occupancy, the documented drift accepted between
    * compactions). Each table's rewrite commits as a new version that
    * replaces the snapshot ([[SinkOps.rewriteVersion]]); probe verdicts
    * are unchanged wherever the occupancy guard was not binding, and
    * wherever it WAS binding the refreshed occ is the correct one.
    */
  def compactEmbedIndex(path: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    // repartition, not coalesce: coalesce would cap the distinct's
    // output parallelism too.
    SinkOps.rewriteVersion(spark, path + "/vectors")(
      _.distinct().repartition(_))
    // One exchange: hash-partitioning on exactly (t, bucket) satisfies
    // the occ window's required clustering, so the repartition both
    // sizes the write and feeds the window without a second shuffle.
    SinkOps.rewriteVersion(spark, path + "/buckets") { (b, n) =>
      b.select("vec_id", "t", "bucket").distinct()
        .repartition(n, col("t"), col("bucket"))
        .withColumn("occ",
          count(lit(1)).over(Window.partitionBy("t", "bucket")))
    }
    ()
  }

  /** Distinct (arrival vec_id, index vec_id, cos_sim) matches clearing
    * `minCos` — the bucket-probe into a persisted index, shared by the
    * near-dup verdict and top-k probe paths. Arrivals' signatures are
    * built HERE (arrivals only); the index contributes pre-computed
    * rows. Degenerate index buckets (occ > maxBucket) are excluded
    * from candidate generation, mirroring [[embedNearDupPairs]].
    */
  private def embedIndexMatches(arr: DataFrame, indexPath: String,
                                minCos: Double, maxBucket: Int,
                                tables: Int, planes: Int): DataFrame = {
    val spark = arr.sparkSession
    val idxB = SinkOps.readVersion(spark, indexPath + "/buckets")
      .filter(col("occ") <= maxBucket)
      .select(col("vec_id").as("idx_id"), col("t"), col("bucket"))
    // dropDuplicates: a replayed append (task retry) may land the same
    // vector twice; a duplicated join key would duplicate match rows.
    // vec_id-keyed, linear.
    val idxV = SinkOps.readVersion(spark, indexPath + "/vectors")
      .select(col("vec_id").as("idx_id"), col("qv").as("qb"),
        col("n2").as("nb"))
      .dropDuplicates("idx_id")
    val cand = buckets(arr, tables, planes).join(idxB, Seq("t", "bucket"))
      .select(col("vec_id"), col("idx_id")).distinct()
    cand
      .join(arr.select(col("vec_id"), col("qv").as("qa"), col("n2").as("na")),
        "vec_id")
      .join(idxV, "idx_id")
      .select(col("vec_id"), col("idx_id"),
        cosine(dotL(col("qa"), col("qb")), col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Persist the known corpus's near-dup CLUSTER MAP alongside the
    * index: [[embedNearDupPairs]] → connected components →
    * (vec_id, cluster) parquet under `path`/clusters — the
    * [[graft.ops.DedupOps.writeMinhashClusterMap]] discipline for
    * vectors. Built once per snapshot (the intended full-mine moment);
    * vectors in no near-dup pair have no row — their own singleton
    * cluster by convention, restored by the read path's coalesce.
    */
  def writeEmbedClusterMap(known: DataFrame, path: String,
                           minCos: Double = 0.95,
                           maxBucket: Int = 100000): Unit = {
    // Pairs are mined from the JUST-WRITTEN index artifact (bucket
    // rows with precomputed occ + quantized vectors under `path`)
    // rather than re-scoring the corpus: the bucket-signature build —
    // 5 tables × 16 hyperplane dots over 64 dims per vector — is the
    // dominant map cost and the index write already paid it. Same
    // pairs as the direct [[embedNearDupPairs]] re-mine on a fresh
    // snapshot (spec-pinned); `known` identifies the session and
    // documents the call-after-write contract.
    val spark = known.sparkSession
    val bo = SinkOps.readVersion(spark, path + "/buckets")
      .filter(col("occ") <= maxBucket)
    val pairs = bo.as("x").join(bo.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val v = SinkOps.readVersion(spark, path + "/vectors")
    val va = v.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
      col("n2").as("na"))
    val vb = v.select(col("vec_id").as("vec_b"), col("qv").as("qb"),
      col("n2").as("nb"))
    val near = pairs.join(va, "vec_a").join(vb, "vec_b")
      .filter(cosine(dotL(col("qa"), col("qb")), col("na"), col("nb"))
        >= minCos)
    SinkOps.commitVersion(GraphOps.connectedComponents(
        near.select(col("vec_a").as("a"), col("vec_b").as("b")))
      .select(col("node").as("vec_id"), col("cluster")),
      path + "/clusters", SinkOps.CommitSpec(carryForward = false))
    ()
  }

  /** Incremental cluster ASSIGNMENT for vectors — the O(arrivals)
    * companion to [[writeEmbedClusterMap]]: each arrival joins the
    * persisted cluster of its index matches (min over
    * coalesce(cluster(match), match) — singleton matches contribute
    * their own id); unmatched arrivals become their own singleton.
    * Output: (vec_id, cluster, n_near). ASSIGNMENT-ONLY contract (the
    * [[graft.ops.DedupOps.assignClustersIncremental]] statement): an
    * arrival bridging two existing clusters takes the smaller label
    * but does NOT merge them — the periodic snapshot rebuild does.
    */
  def assignEmbedClustersIncremental(arrivals: DataFrame, indexPath: String,
                                     minCos: Double = 0.95): DataFrame = {
    val spark = arrivals.sparkSession
    val clusters = SinkOps.readVersion(spark, indexPath + "/clusters")
      .withColumnRenamed("vec_id", "idx_id")
    val arr = withQuant(arrivals).filter(col("n2") > 0)
    val assigned = embedIndexMatches(arr, indexPath, minCos,
        maxBucket = 100000, PairTables, PairPlanes)
      .join(clusters, Seq("idx_id"), "left")
      .groupBy("vec_id").agg(
        min(coalesce(col("cluster"), col("idx_id"))).as("matched_cluster"),
        count(lit(1)).as("n_near"))
    arr.select("vec_id").join(assigned, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("matched_cluster"), col("vec_id")).as("cluster"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** Incremental embedding near-dup dedup against a PERSISTED index
    * ([[writeEmbedIndex]], pair domain): each arrival is judged by
    * bucket-join candidates + exact-cosine re-check against the stored
    * quantized vectors. Output, one row per nonzero-norm arrival:
    * (vec_id, n_near = #index vectors with cos ≥ minCos, kept 0/1) —
    * the [[graft.ops.DedupOps.dedupMinhashIncremental]] verdict shape
    * for vectors. Exact copies need no separate digest tier: an
    * identical vector scores cos ≈ 1 ≥ any sane minCos.
    */
  def embedNearDupIncremental(arrivals: DataFrame, indexPath: String,
                              minCos: Double = 0.95,
                              maxBucket: Int = 100000): DataFrame = {
    val arr = withQuant(arrivals).filter(col("n2") > 0)
    val near = embedIndexMatches(arr, indexPath, minCos, maxBucket,
        PairTables, PairPlanes)
      .groupBy("vec_id").agg(count(lit(1)).as("n_near"))
    arr.select("vec_id").join(near, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(coalesce(col("n_near"), lit(0L)) === 0L, 1L)
          .otherwise(0L).as("kept"))
  }

  /** Incremental top-k similarity SERVING against a persisted
    * QUERY-domain index ([[writeEmbedIndex]] with
    * [[LshTables]]×[[LshPlanes]]): arriving query vectors build their
    * own signatures, bucket-join the index, and rank exact cosine over
    * candidates only — [[lshTopK]] where the corpus side is the
    * pre-built index instead of an in-plan rebuild. Output
    * (q_id, vec_id, cos_sim, rnk ≤ k).
    */
  def probeTopKIncremental(queries: DataFrame, indexPath: String,
                           k: Int = 10): DataFrame = {
    val q = withQuant(queries).filter(col("n2") > 0)
    val scored = embedIndexMatches(q, indexPath, minCos = -2.0,
        maxBucket = Int.MaxValue, LshTables, LshPlanes)
      .select(col("vec_id").as("q_id"), col("idx_id").as("vec_id"),
        col("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Deterministic near-dup embedding corpus: original ∪ copy with the
    * first component zeroed (cos ≈ 0.99+), ids shifted by 1_000_000.
    */
  def embedDupCorpus(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    base.union(base.select(col("vec_id") + 1000000L,
      concat(array(lit(0.0f)), slice(col("embedding"), 2, Dims - 1))
        .as("embedding")))
  }

  /** Embedding-cosine near-dup pairs via LSH buckets: pairs sharing any
    * (table, bucket) in the wide PAIR domain (5 tables × 65,536 buckets,
    * see PairTables/PairPlanes), exact
    * cosine ≥ minCos. Output (vec_a, vec_b, cos_sim). Never all-pairs:
    * the bucket join is the only pair generator.
    *
    * `maxBucket` is the occupancy guard (ngram's `maxDf` analogue): a
    * degenerate bucket — e.g. a mass of near-identical or axis-aligned
    * vectors landing on the same signature — would self-join
    * quadratically, so buckets holding more than `maxBucket` vectors are
    * excluded from pair generation (similarity is then defined over
    * non-degenerate buckets; the oracle mirrors the same rule). The
    * occupancy count rides the same (t, bucket) exchange the self-join
    * needs, so the guard adds no extra shuffle.
    */
  def embedNearDupPairs(corpus: DataFrame, minCos: Double = 0.95,
                        maxBucket: Int = 100000): DataFrame = {
    val v = withQuant(corpus).filter(col("n2") > 0)
    val b = buckets(v, PairTables, PairPlanes)
    val bo = b.withColumn("occ",
        count(lit(1)).over(Window.partitionBy("t", "bucket")))
      .filter(col("occ") <= maxBucket)
    val pairs = bo.as("x").join(bo.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val va = v.select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("n2").as("na"))
    val vb = v.select(col("vec_id").as("vec_b"), col("qv").as("qb"), col("n2").as("nb"))
    pairs.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosine(dotL(col("qa"), col("qb")), col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Semantic (embedding-space) benchmark decontamination — the third
    * member of the decontam family (exact 8-gram, near n-gram, now
    * cosine): flag TRAINING vectors whose embedding sits within
    * `minCos` of ANY benchmark vector — paraphrased leakage that
    * shares no n-gram surface and only an embedding can see. Same
    * sign-LSH bucket discipline as [[embedNearDupPairs]], crossed
    * between the two corpora: candidates are train×bench rows sharing
    * a (table, bucket), verified by the exact int64-quantized cosine;
    * the occupancy guard caps hot train buckets. Output per flagged
    * train vector: benchmark-hit count and the first hit id — the
    * removal list a pretraining cut consumes.
    *
    * Scale shape: the benchmark side is tiny by nature (an eval suite)
    * — its bucket table broadcasts; the training corpus never
    * all-pairs itself (the within-train pair space is never formed).
    * Recall: exact copies always collide (identical signature in
    * every table); sub-1.0 cosine recall follows the (1 − θ/π)^planes
    * law recorded by q_simsearch_recall.
    */
  def embedDecontam(train: DataFrame, bench: DataFrame,
                    minCos: Double = 0.95,
                    maxBucket: Int = 100000): DataFrame = {
    val tv = withQuant(train).filter(col("n2") > 0)
    val bv = withQuant(bench).filter(col("n2") > 0)
    val tb = buckets(tv, PairTables, PairPlanes)
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy("t", "bucket")))
      .filter(col("occ") <= maxBucket)
      .select("vec_id", "t", "bucket")
    val bb = buckets(bv, PairTables, PairPlanes)
      .select(col("vec_id").as("bench_id"), col("t"), col("bucket"))
    val cand = tb.join(bb, Seq("t", "bucket"))
      .select(col("vec_id"), col("bench_id")).distinct()
    val ta = tv.select(col("vec_id"), col("qv").as("qa"), col("n2").as("na"))
    val ba = bv.select(col("vec_id").as("bench_id"), col("qv").as("qb"),
      col("n2").as("nb"))
    cand.join(ta, "vec_id").join(ba, "bench_id")
      .select(col("vec_id"), col("bench_id"),
        cosine(dotL(col("qa"), col("qb")), col("na"), col("nb"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        min("bench_id").as("first_bench_id"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the top-k most-similar vectors with a DIFFERENT
    * label (high-similarity wrong-class examples are the negatives that
    * teach a contrastive model its decision boundary). Same exact
    * int64-quantized cosine + broadcast-query shape as [[bruteTopK]],
    * with the label-inequality predicate riding the broadcast join.
    * Null-label rows never pair (SQL null semantics, both engines).
    * Output: (q_id, vec_id, cos_sim, rnk ≤ k).
    *
    * Scale shape: queries broadcast, corpus never shuffles for the
    * scoring; per-query top-k is the one keyed window. Production
    * swaps the brute scan for the IVF/LSH candidate generators in this
    * file — the label filter composes unchanged.
    */
  def hardNegatives(emb: DataFrame, numQueries: Int = 5,
                    k: Int = 10): DataFrame = {
    val v = emb.select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qv"))
      .withColumn("n2", dotL(col("qv"), col("qv")))
      .filter(col("n2") > 0)
    val q = v.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qv").as("qqv"), col("n2").as("qn2"))
    val scored = broadcast(q).join(v, col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"),
        cosine(dotL(col("qqv"), col("qv")), col("qn2"), col("n2"))
          .as("cos_sim"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Int8 scalar quantization audit — the serving-side compression every
    * embedding store applies (4 B/dim float → 1 B/dim int8, 4×), with the
    * reconstruction-quality report that decides whether it is safe:
    * per-vector symmetric max-abs scaling, `code_i = floor(v_i·127/amax
    * + 0.5)` ∈ [−127, 127]. Every arithmetic step is a single correctly-
    * rounded IEEE-754 double op (float→double widening is exact, one
    * multiply, one divide, one add, floor) — no reductions over floats —
    * so codes and error metrics are bit-identical in any engine and on
    * any partition layout, the same discipline as [[quantize]]. Output
    * per vector: (vec_id, n_dims, sum_code, sum_abs_code, n_sat ≔ #|code|
    * = 127, err_ppm ≔ floor(max_i|v_i − code_i·amax/127|·10^6/amax) — the
    * worst per-dim reconstruction error relative to the vector's own
    * scale). Zero vectors (amax = 0) are excluded by contract.
    *
    * Scale shape: pure per-row expression work — whole-stage codegen,
    * zero shuffle, embarrassingly parallel. The audit aggregates ride
    * the same map pass that would write the codes.
    */
  def int8QuantAudit(emb: DataFrame): DataFrame = {
    val v = col("v")
    val amax = array_max(transform(v, x => abs(x)))
    val code = transform(v, x => floor(x * lit(127.0) / col("amax") +
      lit(0.5)).cast("long"))
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("amax", amax).filter(col("amax") > 0.0)
      .withColumn("code", code)
      .select(col("vec_id"), col("v"), col("amax"), col("code"),
        array_max(zip_with(col("v"), col("code"),
          (x, c) => abs(x - c.cast("double") * col("amax") / lit(127.0))))
          .as("max_err"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        aggregate(col("code"), lit(0L), (a, x) => a + x).as("sum_code"),
        aggregate(col("code"), lit(0L), (a, x) => a + abs(x))
          .as("sum_abs_code"),
        size(filter(col("code"), c => abs(c) === 127L)).cast("long")
          .as("n_sat"),
        floor(col("max_err") * lit(1000000.0) / col("amax")).cast("long")
          .as("err_ppm"))
  }

  /** SemDeDup — semantic deduplication via cluster-bounded cosine
    * pairing (Abbas et al. 2023's recipe, relationally): k-means
    * clusters bound the candidate space, exact cosine within each
    * cluster finds semantic duplicates, and each vector with a
    * smaller-id near-duplicate in its cluster is marked dropped. The
    * training uses the SAME fixed-round integer-lattice Lloyd prefix as
    * the IVF coarse quantizer ([[kmeansCentroids]]) so the DuckDB
    * oracle replays clustering bit-identically. Output per cluster:
    * (c_id, n_members, n_pairs, n_dropped) — the dedup pressure report
    * a curation run reads before committing the drop.
    *
    * Scale shape: clustering is the audited IVF loop (broadcast
    * centroids, corpus never shuffles to assign). Pairing self-joins
    * WITHIN clusters only — the SemDeDup bargain: pair work is
    * Σ_c |c|²/2, controlled by the centroid count (production: k ≈
    * corpus/10⁴ keeps clusters bounded; cross-cluster duplicates are
    * forgone by design, stated plainly). Quantized int64 dots keep the
    * verify exact.
    */
  def semanticDedup(emb: DataFrame, iters: Int = 2,
                    minCos: Double = 0.9): DataFrame = {
    val v = withQuant(emb).filter(col("n2") > 0)
    val cent = kmeansCentroids(v, iters)
    val m = assignMin(v, cent).select("vec_id", "c_id")
      .join(v, "vec_id")
      .localCheckpoint(true)
    val pairs = m.as("x").join(m.as("y"),
        col("x.c_id") === col("y.c_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.c_id").as("c_id"),
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(dotL(col("x.qv"), col("y.qv")), col("x.n2"), col("y.n2"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .localCheckpoint(true)
    val dropped = pairs.select(col("c_id"), col("vec_b").as("vec_id"))
      .distinct()
    val members = m.select("c_id", "vec_id")
    members.groupBy("c_id").agg(count(lit(1)).as("n_members"))
      .join(pairs.groupBy("c_id").agg(count(lit(1)).as("n_pairs")),
        Seq("c_id"), "left")
      .join(dropped.groupBy("c_id").agg(count(lit(1)).as("n_dropped")),
        Seq("c_id"), "left")
      .select(col("c_id"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Johnson-Lindenstrauss target dimensionality for [[rpDistortion]]
    * (shared with the oracle).
    */
  val RpDims = 16

  /** ±1 sign for the random-projection matrix cell (j, i) — derived
    * from the portable hash (the [[weight]] discipline) so the oracle
    * regenerates the identical matrix.
    */
  def rpSign(j: Int, i: Int): Long =
    if (DedupOps.hash60Local(s"rp-$j-$i") % 2 == 0) 1L else -1L

  /** Random projection (Achlioptas ±1 JL transform) + distortion
    * audit: quantized vectors project onto [[RpDims]] hash-derived ±1
    * sign rows — each projected coordinate is one exact int64 dot
    * against an array LITERAL (pure codegen, no join, no shuffle; the
    * matrix is (j,i)-hash-derived so nothing ships). For every
    * consecutive (vec_id, vec_id+1) pair the audit reports the exact
    * squared distance before and after projection and the JL ratio
    * d2_proj / (m · d2_orig) (expected ≈ 1; a final IEEE division of
    * exact int64s). This is the compress-before-ANN step: at 100 TB,
    * projecting 64-dim → 16-dim quarters every downstream
    * bucket/probe cost, and the audit is the evidence the distortion
    * stays inside JL bounds. One keyed self-join per audit pair —
    * the projection itself is map-only.
    */
  def rpDistortion(emb: DataFrame, m: Int = RpDims): DataFrame = {
    val signs = (0 until m).map(j =>
      typedLit((0 until Dims).map(i => rpSign(j, i))))
    val q = withQuant(emb).select(col("vec_id"), col("qv"),
      array(signs.map(sv => dotL(col("qv"), sv)): _*).as("p"))
    def sq(u: Column, v: Column): Column =
      aggregate(zip_with(u, v, (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _)
    val a = q.select(col("vec_id").as("a"), col("qv").as("qa"),
      col("p").as("pa"))
    val b = q.select((col("vec_id") - 1).as("a"), col("vec_id").as("b"),
      col("qv").as("qb"), col("p").as("pb"))
    a.join(b, "a")
      .select(col("a"), col("b"),
        sq(col("qa"), col("qb")).as("d2_orig"),
        sq(col("pa"), col("pb")).as("d2_proj"))
      .filter(col("d2_orig") > 0)
      .withColumn("ratio", col("d2_proj").cast("double") /
        (lit(m.toDouble) * col("d2_orig").cast("double")))
  }
}
