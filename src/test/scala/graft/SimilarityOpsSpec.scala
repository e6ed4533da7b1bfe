package graft

import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, SinkOps}

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)

  test("quantized dot product is exact and symmetric") {
    val df = Seq(
      (0L, Array(0.5f, -0.25f, 0.125f)),
      (1L, Array(1.0f, 0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val q = df.select(SimilarityOps.quantize(col("embedding")).as("qv"))
      .agg(collect_list("qv")).head().getSeq[Seq[Long]](0)
    assert(q(0) === Seq(500000L, -250000L, 125000L))
    assert(q(1) === Seq(1000000L, 0L, -1000000L))
  }

  test("bruteTopK: 10 ranked neighbors per query, self excluded") {
    val out = SimilarityOps.bruteTopK(emb).collect()
    assert(out.length === 50)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to 10L))
      // ranks follow cosine desc
      val sorted = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getLong(1) !== r.getLong(0)))
      assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    }
  }

  test("lshTopK scores agree with brute force on shared pairs") {
    val brute = SimilarityOps.bruteTopK(emb, k = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilarityOps.lshTopK(emb).collect()
    assert(lsh.nonEmpty)
    // Any LSH hit that brute force also ranked must have the identical cosine.
    val shared = lsh.flatMap(r =>
      brute.get((r.getLong(0), r.getLong(1))).map(_ -> r.getDouble(2)))
    assert(shared.nonEmpty)
    shared.foreach { case (b, l) => assert(b === l) }
  }

  test("embedNearDupPairs finds planted near-duplicates with high recall") {
    val corpus = SimilarityOps.embedDupCorpus(emb)
    val pairs = SimilarityOps.embedNearDupPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val n = emb.count()
    val planted = pairs.keys.count { case (a, b) => b === a + 1000000L }
    assert(planted >= (n * 0.9).toInt) // LSH recall across 2 tables
    pairs.values.foreach(c => assert(c >= 0.95 && c <= 1.0 + 1e-12))
  }

  test("embedNearDupPairs occupancy guard excludes degenerate buckets") {
    // 30 identical vectors land in the same bucket of every table — the
    // degenerate-bucket case the guard exists for. With maxBucket below
    // the occupancy no pairs are generated; with it above, all C(30,2)
    // identical pairs appear at cosine 1.
    val v = Array.fill(64)(0.1f).toSeq
    val df = (0L until 30L).map(i => (i, v)).toDF("vec_id", "embedding")
    assert(SimilarityOps.embedNearDupPairs(df, maxBucket = 10).count() === 0)
    assert(SimilarityOps.embedNearDupPairs(df, maxBucket = 1000).count()
      === 30L * 29L / 2)
  }

  test("ivfTopK agrees with brute force on shared pairs and finds neighbors") {
    val brute = SimilarityOps.bruteTopK(emb, k = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = SimilarityOps.ivfTopK(emb).collect()
    assert(ivf.nonEmpty)
    val shared = ivf.flatMap(r =>
      brute.get((r.getLong(0), r.getLong(1))).map(_ -> r.getDouble(2)))
    assert(shared.nonEmpty)
    shared.foreach { case (b, l) => assert(b === l) }
    // every query produced a ranked list 1..n without gaps
    ivf.groupBy(_.getLong(0)).values.foreach { rows =>
      val rnks = rows.map(_.getLong(3)).sorted
      assert(rnks.sameElements(1L to rnks.length))
    }
  }

  test("recallAtK counts match a driver-side set intersection") {
    val brute = SimilarityOps.bruteTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SimilarityOps.recallAtK(emb).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) === brute.count(_._1 == q))
      assert(r.getLong(2) === (brute & lsh).count(_._1 == q))
      assert(r.getLong(3) === (brute & ivf).count(_._1 == q))
    }
    // IVF is the generic-top-k tool on this near-orthogonal fixture —
    // its recall must dominate LSH's (see the lshTopK regime note).
    val (lshTot, ivfTot) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum)
    assert(ivfTot > lshTot)
    assert(ivfTot >= (0.7 * rows.map(_.getLong(1)).sum).toLong)
  }

  test("plantedPairRecall pins the >=0.9 near-dup recall claim") {
    val Array(row) = SimilarityOps.plantedPairRecall(emb).collect()
    val (planted, found) = (row.getLong(0), row.getLong(1))
    assert(planted > 0 && found <= planted)
    assert(found.toDouble / planted >= 0.9)
  }

  test("kmeansCentroids equals a driver-side Lloyd reference, bit for bit") {
    val v = emb.select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qv"))
      .withColumn("n2", SimilarityOps.dotL(col("qv"), col("qv")))
      .filter(col("n2") > 0)
    val vecs = v.select("vec_id", "qv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    // reference: plain-Scala integer-lattice Lloyd, same seed/snap/ties
    var cent: Map[Long, Array[Long]] =
      vecs.filter(_._1 < SimilarityOps.IvfCentroids).toMap
    for (_ <- 0 until 2) {
      def d2(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val assign = vecs.map { case (id, q) =>
        val best = cent.toSeq.map { case (c, cv) => (d2(q, cv), c) }.min
        (best._2, q)
      }
      cent = cent.map { case (c, old) =>
        val members = assign.filter(_._1 == c).map(_._2)
        if (members.isEmpty) c -> old
        else c -> Array.tabulate(old.length)(i =>
          math.floor(members.map(_(i)).sum.toDouble / members.length).toLong)
      }
    }
    val got = SimilarityOps.kmeansCentroids(v).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(got.keySet === cent.keySet)
    cent.foreach { case (c, cv) =>
      assert(got(c).toSeq === cv.toSeq, s"centroid $c")
    }
    // trained-index query path stays a valid ranked list
    val km = SimilarityOps.ivfTopK(emb, trainIters = 2).collect()
    km.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to rows.length))
    }
  }

  test("kmeansFixpoint: converged centroids are a Lloyd fixed point; " +
      "IVF trainer is its fixed-round prefix") {
    val v = emb.select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qv"))
      .withColumn("n2", SimilarityOps.dotL(col("qv"), col("qv")))
      .filter(col("n2") > 0)
    val fix = SimilarityOps.kmeansFixpoint(v, maxIters = 40)
    val cents = fix.collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toSeq, r.getLong(3))))
      .toMap
    assert(cents.keySet === (0L until SimilarityOps.IvfCentroids).toSet)
    // Inertia: total equals the driver-side sum of min squared
    // distances over all vectors against the converged centroids.
    val vecs = v.select("vec_id", "qv").collect()
      .map(r => r.getSeq[Long](1).toArray)
    def d2(a: Array[Long], b: Seq[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val expInertia = vecs.map(q => cents.values.map(c => d2(q, c._1)).min).sum
    assert(fix.collect().map(_.getLong(4)).sum === expInertia)
    // Fixed point: one more Lloyd round leaves every centroid unchanged.
    val centDf = fix.select(col("c_id"), col("cv"), col("cn2"))
    val again = SimilarityOps.lloydRound(v, centDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    cents.foreach { case (c, (cv, _)) => assert(again(c) === cv, s"centroid $c") }
    // Member counts cover the whole corpus exactly once.
    assert(cents.values.map(_._2).sum === v.count())
    // The 2-round IVF trainer is the same recurrence stopped early:
    // round 2 equals lloydRound∘lloydRound of the seed.
    val two = SimilarityOps.kmeansCentroids(v, 2)
    val seed = SimilarityOps.kmeansCentroids(v, 0)
    val manual = SimilarityOps.lloydRound(v, SimilarityOps.lloydRound(v, seed))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val twoM = two.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(twoM === manual)
  }

  test("lloydRound shuffles the corpus exactly once per round (qv rides " +
      "the assignment aggregate, no rejoin)") {
    val v = emb.select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qv"))
      .withColumn("n2", SimilarityOps.dotL(col("qv"), col("qv")))
      .filter(col("n2") > 0)
    val seed = SimilarityOps.kmeansCentroids(v, 0)
    val p = SimilarityOps.lloydRound(v, seed)
      .queryExecution.executedPlan.toString
    // The only vec_id-keyed (corpus-sized) exchange is the assignment
    // aggregate; every other exchange is (c_id[, dim])-keyed, <= k*64
    // rows. The pre-r9 shape rejoined the corpus to recover qv: two
    // more hashpartitioning(vec_id) exchanges here.
    val corpusExchanges =
      "hashpartitioning\\(vec_id".r.findAllIn(p).length
    assert(corpusExchanges === 1,
      s"expected exactly one vec_id-keyed exchange:\n$p")
  }

  test("kmeansFixpoint throws rather than returning drifting centroids") {
    val v = emb.select(col("vec_id"),
        SimilarityOps.quantize(col("embedding")).as("qv"))
      .withColumn("n2", SimilarityOps.dotL(col("qv"), col("qv")))
      .filter(col("n2") > 0)
    intercept[IllegalStateException] {
      SimilarityOps.kmeansFixpoint(v, maxIters = 1)
    }
  }

  // ---- persisted embed-index tier ----

  /** The q_dedup_embed_incr arrival fixture: exact twins (+1M), near
    * twins (+2M, first component zeroed), fresh reversed (+3M).
    */
  private def embArrivals = {
    val third = (r: Int) => emb.filter(col("vec_id") % 3 === r)
    third(0).select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .union(third(1).select((col("vec_id") + 2000000L).as("vec_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), 2, SimilarityOps.Dims - 1)).as("embedding")))
      .union(third(2).select((col("vec_id") + 3000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding")))
  }

  test("embedNearDupIncremental: planted cross-slice twins caught, " +
      "fresh reversed vectors kept") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec").toString
    SimilarityOps.writeEmbedIndex(emb, idx)
    val got = SimilarityOps.embedNearDupIncremental(embArrivals, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val exact = got.keys.filter(id => id >= 1000000L && id < 2000000L)
    val near = got.keys.filter(id => id >= 2000000L && id < 3000000L)
    val fresh = got.keys.filter(_ >= 3000000L)
    assert(exact.nonEmpty && near.nonEmpty && fresh.nonEmpty)
    // Exact twins: identical vector -> identical buckets in every
    // table -> candidate always generated, cosine ~1: all caught.
    exact.foreach { id =>
      assert(got(id)._1 >= 1L && got(id)._2 === 0L, s"exact twin $id") }
    // Near twins: LSH recall is probabilistic by design (~0.97 any-of-5
    // tables at cos~0.99); pin the >=0.9 recall claim on the set.
    val nearCaught = near.count(id => got(id)._1 >= 1L)
    assert(nearCaught.toDouble / near.size >= 0.9,
      s"near-twin recall $nearCaught/${near.size}")
    // Fresh reversed vectors survive (deterministic on this fixture).
    fresh.foreach { id => assert(got(id) === ((0L, 1L)), s"fresh $id") }
  }

  test("embedNearDupIncremental scans only the index, never the corpus") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec2").toString
    SimilarityOps.writeEmbedIndex(emb, idx)
    val arrivals = emb.limit(3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true) // cut lineage: arrivals must contribute no scan
    val plan = SimilarityOps.embedNearDupIncremental(arrivals, idx)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.contains("graft_embidx_spec2"),
      s"non-index file scan in plan: $s"))
  }

  test("embedNearDupIncremental equals the full union-corpus re-mine") {
    // The O(arrivals) persisted-index path must lose NOTHING against
    // the O(corpus) re-mine: per arrival, n_near equals the number of
    // cross-boundary pairs embedNearDupPairs finds on the union corpus
    // (same quantization, same hyperplanes, same cosine threshold).
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec3").toString
    SimilarityOps.writeEmbedIndex(emb, idx)
    val incr = SimilarityOps.embedNearDupIncremental(embArrivals, idx)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = SimilarityOps.embedNearDupPairs(
        emb.select("vec_id", "embedding").union(embArrivals))
      .filter(col("vec_a") < 1000000L && col("vec_b") >= 1000000L)
      .groupBy("vec_b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr.nonEmpty)
    incr.foreach { case (id, n) =>
      assert(n === full.getOrElse(id, 0L), s"arrival $id") }
    assert(full.keySet.subsetOf(incr.keySet))
  }

  test("appendToEmbedIndex: a twin is caught only after its original " +
      "is admitted") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec4").toString
    SimilarityOps.writeEmbedIndex(emb, idx)
    // A reversed corpus vector is fresh w.r.t. the base index; its
    // exact twin arrives in the NEXT batch.
    val fresh = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val twin = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val before = SimilarityOps.embedNearDupIncremental(twin, idx)
      .collect().head
    assert((before.getLong(1), before.getLong(2)) === ((0L, 1L)))
    val v1 = SimilarityOps.embedNearDupIncremental(fresh, idx)
      .collect().head
    assert(v1.getLong(2) === 1L) // admitted
    SimilarityOps.appendToEmbedIndex(fresh, idx)
    val after = SimilarityOps.embedNearDupIncremental(twin, idx)
      .collect().head
    assert(after.getLong(1) >= 1L && after.getLong(2) === 0L)
  }

  test("assignEmbedClustersIncremental: twins join their original's " +
      "cluster, fresh become singletons, the map is untouched") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec6").toString
    val known = SimilarityOps.embedDupCorpus(emb)
    SimilarityOps.writeEmbedIndex(known, idx)
    SimilarityOps.writeEmbedClusterMap(known, idx)
    val mapBefore = SinkOps.readVersion(spark, idx + "/clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact copy of vec 4 (+3M): its matches are vec 4 itself (always —
    // identical buckets) and usually the zeroed-first +1M twin; the min
    // assigned cluster is 4 whether or not the (4, 1000004) known pair
    // made it into the map (coalesce falls back to the match's own id).
    val arrivals = emb.filter(col("vec_id") === 4L)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") === 5L)
        .select((col("vec_id") + 4000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    val got = SimilarityOps.assignEmbedClustersIncremental(arrivals, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(3000004L)._1 === 4L)
    assert(got(3000004L)._2 >= 1L)
    assert(got(4000005L) === ((4000005L, 0L))) // fresh singleton
    // Assignment never mutates the persisted map.
    val mapAfter = SinkOps.readVersion(spark, idx + "/clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mapAfter === mapBefore && mapBefore.nonEmpty)
  }

  test("append-chain index equals a from-scratch snapshot rebuild " +
      "(the periodic-rebuild contract)") {
    // Build evens + append odds in two batches, vs ONE build over the
    // union: every later probe verdict must be identical — the
    // property that licenses compacting/rebuilding the appended index
    // at the periodic snapshot moment without changing any judgment.
    val chainIdx = java.nio.file.Files
      .createTempDirectory("graft_embidx_chain").toString
    val snapIdx = java.nio.file.Files
      .createTempDirectory("graft_embidx_snap").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val odds = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    SimilarityOps.writeEmbedIndex(evens, chainIdx)
    SimilarityOps.appendToEmbedIndex(
      odds.filter(col("vec_id") % 4 === 1), chainIdx)
    SimilarityOps.appendToEmbedIndex(
      odds.filter(col("vec_id") % 4 === 3), chainIdx)
    SimilarityOps.writeEmbedIndex(evens.union(odds), snapIdx)
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    def verdict(idx: String) =
      SimilarityOps.embedNearDupIncremental(probes, idx).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(verdict(chainIdx) === verdict(snapIdx))
  }

  test("probeTopKIncremental over exact query copies equals lshTopK " +
      "modulo the self row") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_spec5").toString
    SimilarityOps.writeEmbedIndex(emb, idx,
      SimilarityOps.LshTables, SimilarityOps.LshPlanes)
    // Queries = UNperturbed copies of the first 5 corpus vectors at +1M
    // ids: identical vectors share every bucket, so each probe's rank-1
    // hit is the query's own base twin (cos ~1) and the tail must equal
    // lshTopK's ranked list for the base vector.
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val probed = SimilarityOps.probeTopKIncremental(queries, idx).collect()
      .groupBy(_.getLong(0))
    val ref = SimilarityOps.lshTopK(emb).collect().groupBy(_.getLong(0))
    assert(probed.keySet === Set(1000000L, 1000001L, 1000002L,
      1000003L, 1000004L))
    probed.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rows.length))
      assert(sorted.head.getLong(1) === qid - 1000000L) // self twin first
      assert(sorted.head.getDouble(2) > 0.999999)
      val tail = sorted.tail.map(r => (r.getLong(1), r.getDouble(2)))
      val expect = ref(qid - 1000000L).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).take(tail.length)
      assert(tail.toSeq === expect.toSeq, s"query $qid")
    }
  }

  test("ivfProbeIncremental over exact query copies equals " +
      "ivfTopK(trained) modulo the self row") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivfidx_spec").toString
    SimilarityOps.writeIvfIndex(Tables.embeddings(spark, sfDir), idx)
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val probed = SimilarityOps.ivfProbeIncremental(queries, idx).collect()
      .groupBy(_.getLong(0))
    val ref = SimilarityOps.ivfTopK(emb, trainIters = 2).collect()
      .groupBy(_.getLong(0))
    assert(probed.keySet === (0L until 5L).map(_ + 1000000L).toSet)
    probed.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rows.length))
      // an exact copy ranks its own cluster first, so its base twin is
      // in the probe set and wins at cos ~1
      assert(sorted.head.getLong(1) === qid - 1000000L)
      assert(sorted.head.getDouble(2) > 0.999999)
      val tail = sorted.tail.map(r => (r.getLong(1), r.getDouble(2)))
      val expect = ref(qid - 1000000L).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).take(tail.length)
      assert(tail.toSeq === expect.toSeq, s"query $qid")
    }
  }

  test("pqProbeIncremental over exact query copies reproduces pqTopK's " +
      "ADC distances on shared pairs") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_pqidx_spec").toString
    SimilarityOps.writePqIndex(Tables.embeddings(spark, sfDir), idx)
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val probed = SimilarityOps.pqProbeIncremental(queries, idx).collect()
    val ref = SimilarityOps.pqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(probed.nonEmpty)
    probed.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to rows.length))
    }
    // identical subvectors -> identical distance tables: every pair the
    // in-plan scan also ranked must carry the same exact integer ADC
    val shared = probed.flatMap { r =>
      ref.get((r.getLong(0) - 1000000L, r.getLong(1)))
        .map(exp => (r.getLong(0), r.getLong(1), r.getLong(2), exp))
    }
    assert(shared.nonEmpty)
    shared.foreach { case (q, v, got, exp) =>
      assert(got === exp, s"pair ($q, $v)") }
  }

  test("saltedSum equals the direct groupBy (skew path is exact)") {
    import graft.ops.AggOps
    val li = Tables.lineitem(spark, sfDir)
    val salted = AggOps.saltedSum(li, Seq("l_returnflag"), "l_quantity",
        col("l_orderkey")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(AggOps.exactSum(col("l_quantity")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted === direct)
  }

  test("results are deterministic across partition layouts") {
    val a = SimilarityOps.bruteTopK(emb).collect().toSeq
    val b = SimilarityOps.bruteTopK(emb.repartition(7)).collect().toSeq
    assert(a.toSet === b.toSet)
  }

  test("dimStats computes exact per-dimension moments") {
    import spark.implicits._
    // Two 64-dim vectors: dim0 = {0.5, -0.25}, other dims 0.
    val v1 = Array.fill(64)(0.0f); v1(0) = 0.5f
    val v2 = Array.fill(64)(0.0f); v2(0) = -0.25f
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq)).toDF("vec_id", "embedding")
    val rows = SimilarityOps.dimStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.size === 64)
    val d0 = rows(0L)
    assert(d0.getAs[Long]("sum_q") === 500000L - 250000L)
    assert(d0.getAs[Long]("sum_q2") === 500000L * 500000L + 250000L * 250000L)
    assert(d0.getAs[Long]("min_q") === -250000L)
    assert(d0.getAs[Long]("max_q") === 500000L)
    assert(d0.getAs[Double]("mean_q") === 125000.0)
    assert(rows(5L).getAs[Long]("sum_q2") === 0L)
  }

  test("pqTopK: ADC distance is exact when vectors sit on codewords") {
    import spark.implicits._
    // Corpus = 16 codebook seeds + 2 copies of seeds 3 and 7: a copy's
    // subvectors all encode to its seed's codes, so ADC(query=seed,
    // copy-of-same-seed) must be exactly 0 and rank first.
    val base = (0 until 16).map { i =>
      val a = Array.fill(64)(0.0f)
      a(i % 64) = 1.0f + i; a((i * 7 + 3) % 64) = -0.5f * (i + 1)
      (i.toLong, a.toSeq)
    }
    val copies = Seq(100L -> base(3)._2, 101L -> base(7)._2)
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val out = SimilarityOps.pqTopK(df, numQueries = 8, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val top3 = out.filter(t => t._1 === 3L && t._4 === 1L).head
    assert(top3._2 === 100L && top3._3 === 0L)
    val top7 = out.filter(t => t._1 === 7L && t._4 === 1L).head
    assert(top7._2 === 101L && top7._3 === 0L)
  }

  test("pqTopK emits k ranked candidates per query on the fixture") {
    val out = SimilarityOps.pqTopK(emb).collect()
    assert(out.length === 50)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.sameElements(1L to 10L))
      // ranks follow estimated distance asc; self excluded
      val sorted = rows.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
      assert(rows.forall(r => r.getLong(1) !== r.getLong(0)))
      assert(rows.forall(_.getLong(2) >= 0L))
    }
  }
}
