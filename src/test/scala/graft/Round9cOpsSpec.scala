package graft

import org.apache.spark.sql.functions._
import graft.ops.{CurationOps, SinkOps}

/** Specs for the late-round-9 additions: retrieval-quality evaluation
  * (rankEval) and the streaming windowed top-k leaderboard.
  * (compactMinhashIndex's spec lives with its family in DedupOpsSpec.)
  */
class Round9cOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- rankEval ----

  test("rankEval: conjunctive ground truth, exact ppm metrics, and " +
      "zero-guarded empty truth sets") {
    val docs = Seq(
      (1L, "apple pie recipe"),           // relevant to q1 (apple AND pie)
      (2L, "apple tart with apple"),      // apple only — NOT relevant to q1
      (3L, "pie pie pie apple"),          // relevant to q1
      (4L, "unrelated words here")        // relevant to q3 only
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple pie"), (2L, "zebra"), (3L, "unrelated here"))
    val got = CurationOps.rankEval(docs, queries).collect()
      .map(r => r.getLong(0) -> r).toMap

    // q1: truth = {1, 3}; all 3 apple/pie docs are retrieved (k=10), so
    // hits = 2 and recall = 100%. Ranking order between the relevant
    // pair and doc 2 is BM25's business; relevance structure bounds the
    // order-sensitive metrics instead of hand-computing scores.
    val q1 = got(1L)
    assert(q1.getLong(1) === 2L)                  // n_rel
    assert(q1.getLong(2) === 2L)                  // hits_k
    assert(q1.getLong(6) === 1000000L)            // recall_ppm
    assert(q1.getLong(5) === 200000L)             // p@10 = 2/10
    assert(q1.getLong(3) >= 1L && q1.getLong(3) <= 2L) // first_rel
    assert(q1.getLong(4) >= 500000L)              // mrr ≥ 1/2

    // q2: empty truth set — all metrics zero, no divide-by-zero.
    val q2 = got(2L)
    assert((1 to 7).map(q2.getLong) === Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L))

    // q3: single relevant doc, retrieved at rank 1 (it is the only doc
    // containing either term) — the perfect-ranking closed form.
    val q3 = got(3L)
    assert(q3.getLong(1) === 1L && q3.getLong(2) === 1L)
    assert(q3.getLong(3) === 1L)                  // first_rel
    assert(q3.getLong(4) === 1000000L)            // mrr
    assert(q3.getLong(6) === 1000000L)            // recall
    assert(q3.getLong(7) === 1000000L)            // AP = 1
  }

  test("rankEval AP equals the hand summation on a forced ordering") {
    // Single-term queries make ranking order fully determined by tf
    // saturation: higher tf ⇒ higher score for the same term. Truth for
    // "x" is every doc containing x (conjunctive over one term), so
    // every retrieved doc is relevant and AP must be exactly 10^6.
    val docs = Seq(
      (1L, "x x x filler"), (2L, "x x other"), (3L, "x alone"),
      (4L, "no match at all")
    ).toDF("doc_id", "text")
    val got = CurationOps.rankEval(docs, Seq((7L, "x"))).collect().head
    assert(got.getLong(1) === 3L)       // n_rel
    assert(got.getLong(2) === 3L)       // hits
    assert(got.getLong(4) === 1000000L) // mrr: top doc relevant
    assert(got.getLong(7) === 1000000L) // AP: precision 1 at every hit
  }

  // ---- portable HLL registers ----

  test("hllRegisters: registers in range, union law holds, estimate " +
      "lands near the exact NDV") {
    import graft.ops.AggOps
    val orders = Tables.orders(spark, sfDir)
    val day = col("o_orderdate").cast("date")
    val bd = lit("1995-06-01").cast("date")
    val a = orders.filter(day < bd)
    val b = orders.filter(day >= bd)
    val regsA = AggOps.hllRegisters(a, "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val regsB = AggOps.hllRegisters(b, "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val regsU = AggOps.hllRegisters(orders, "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (regsA.values ++ regsB.values).foreach(v => assert(v >= 1L && v <= 33L))
    // Union algebra: regs(A ∪ B) = per-bucket max of regs(A), regs(B).
    val merged = (regsA.keySet ++ regsB.keySet).map(k =>
      k -> math.max(regsA.getOrElse(k, 0L), regsB.getOrElse(k, 0L))).toMap
    assert(merged === regsU)
    // The persisted-artifact path computes the same merge.
    val path = java.nio.file.Files
      .createTempDirectory("graft_hll_spec").toString
    AggOps.writeHllRegisters(a, "o_custkey", path)
    val inc = AggOps.hllMergeIncremental(b, "o_custkey", path).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(inc === merged)
    // Estimate sanity: standard HLL with m=64 (alpha = 0.709) should
    // land within ~3 sigma of 1.04/sqrt(64) = 13% of the exact NDV.
    val m = AggOps.HllBuckets
    val zeros = m - regsU.size
    val rawSum = (0 until m).map(bkt =>
      math.pow(2.0, -regsU.getOrElse(bkt.toLong, 0L).toDouble)).sum
    val raw = 0.709 * m * m / rawSum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    val exact = orders.select("o_custkey").distinct().count().toDouble
    assert(math.abs(est - exact) / exact < 0.4,
      s"HLL estimate $est too far from exact $exact")
  }

  // ---- embed / BM25 index compaction ----

  test("compactEmbedIndex: dedups replayed appends, refreshes occ to " +
      "the global occupancy, and preserves probe verdicts") {
    import graft.ops.SimilarityOps
    val emb = Tables.embeddings(spark, sfDir)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_cmp_spec").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
      .select("vec_id", "embedding")
    val odds = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    SimilarityOps.writeEmbedIndex(evens, idx)
    SimilarityOps.appendToEmbedIndex(odds, idx)
    SimilarityOps.appendToEmbedIndex(odds, idx) // replayed delivery
    val probe = emb.filter(col("vec_id") < 20)
    def verdict() = SimilarityOps.embedNearDupIncremental(probe, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val before = verdict()
    val rawBuckets = SinkOps.readVersion(spark, s"$idx/buckets")
    assert(rawBuckets.count() >
      rawBuckets.select("vec_id", "t", "bucket").distinct().count())
    SimilarityOps.compactEmbedIndex(idx)
    val b = SinkOps.readVersion(spark, s"$idx/buckets")
    assert(b.count() ===
      b.select("vec_id", "t", "bucket").distinct().count())
    // occ now equals the GLOBAL occupancy of each (t, bucket).
    val occBad = b.groupBy("t", "bucket")
      .agg(count(lit(1)).as("n"), max("occ").as("mx"), min("occ").as("mn"))
      .filter(col("n") =!= col("mx") || col("n") =!= col("mn"))
    assert(occBad.isEmpty, "occ must equal global bucket occupancy")
    val v = SinkOps.readVersion(spark, s"$idx/vectors")
    assert(v.count() === v.distinct().count())
    assert(verdict() === before)
  }

  test("compactBm25Index: folds partials, re-clusters postings, and " +
      "serves identical rankings") {
    import graft.ops.CurationOps
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_bm25_cmp_spec").toString
    val qs = Seq((1L, "hash join"), (2L, "fast scan"))
    CurationOps.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), path)
    CurationOps.appendToBm25Index(
      docs.filter(col("doc_id") % 2 === 1), path)
    def serve() = CurationOps.bm25TopKIndexed(spark, path, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val before = serve()
    val tdBefore = SinkOps.readVersion(spark, s"$path/termdf")
    assert(tdBefore.count() > tdBefore.select("w").distinct().count(),
      "two generations must hold per-batch termdf partials")
    CurationOps.compactBm25Index(path)
    val td = SinkOps.readVersion(spark, s"$path/termdf")
    assert(td.count() === td.select("w").distinct().count())
    assert(SinkOps.readVersion(spark, s"$path/stats").count() === 1L)
    assert(serve() === before, "compaction must be serve-neutral")
  }

  test("index compactions commit a new version: the pre-compaction " +
      "generation stays readable at head - 1 and no tmp dir is left") {
    import graft.ops.{DedupOps, SimilarityOps}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 60)
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .filter(col("vec_id") < 60)
    // (family, its tables, build + append, compaction)
    val cases = Seq[(String, Seq[String], String => Unit, String => Unit)](
      ("minhash", Seq("bands", "digests"), { p =>
        DedupOps.writeMinhashIndex(docs, p)
        DedupOps.appendToMinhashIndex(docs, p) // replayed delivery
      }, DedupOps.compactMinhashIndex),
      ("embed", Seq("vectors", "buckets"), { p =>
        SimilarityOps.writeEmbedIndex(emb, p)
        SimilarityOps.appendToEmbedIndex(emb, p) // replayed delivery
      }, SimilarityOps.compactEmbedIndex),
      ("bm25", Seq("postings", "doclen", "termdf", "stats"), { p =>
        CurationOps.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), p)
        CurationOps.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), p)
      }, CurationOps.compactBm25Index))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    for ((family, tables, build, compact) <- cases) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft_${family}_cmp_versions").toString
      build(idx)
      val before = tables.map { t =>
        val path = s"$idx/$t"
        t -> ((SinkOps.currentVersion(spark, path),
          rows(SinkOps.readVersion(spark, path))))
      }.toMap
      compact(idx)
      tables.foreach { t =>
        val path = s"$idx/$t"
        val head = SinkOps.currentVersion(spark, path)
        assert(head === before(t)._1 + 1, s"$family/$t: one new version")
        assert(rows(SinkOps.readVersion(spark, path, Some(head - 1))) ===
          before(t)._2, s"$family/$t: pre-compaction rows at head - 1")
      }
      assert(!walk(new java.io.File(idx))
          .exists(_.getName.contains("_compact_tmp")),
        s"$family: a compaction must leave no tmp dir")
    }
  }

  // ---- PNG metadata chunk walk ----

  test("pngMetaOf: IHDR fields match the encoder, CRCs verify, and " +
      "corruption is detected or fails loudly") {
    import graft.ops.MultimodalOps
    val png = MultimodalOps.syntheticPng(37L) // 6×3 gray-8 raster
    val (w, h, bd, ct, ok) = MultimodalOps.pngMetaOf(png)
    assert((w, h, bd, ct, ok) === ((6, 3, 8, 0, true)))

    // Flip one payload byte past the header: some chunk's CRC breaks.
    val corrupt = png.clone()
    corrupt(png.length - 20) = (corrupt(png.length - 20) ^ 0x5a).toByte
    assert(!MultimodalOps.pngMetaOf(corrupt)._5)

    // Bad signature and truncation fail loudly, never return garbage.
    intercept[IllegalArgumentException] {
      MultimodalOps.pngMetaOf("not a png at all".getBytes)
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.pngMetaOf(png.take(20))
    }
  }

  test("imageMeta agrees with the real decoder on dimensions") {
    import graft.ops.MultimodalOps
    val docs = Tables.documents(spark, sfDir).limit(64)
    val meta = MultimodalOps.imageMeta(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val spark2 = spark
    import spark2.implicits._
    val dec = MultimodalOps.decodeImages(MultimodalOps.pngAssets(docs))
      .collect().map(f => f.asset_id -> ((f.width.toLong, f.height.toLong)))
      .toMap
    assert(meta === dec)
    assert(MultimodalOps.imageMeta(docs)
      .filter(col("crc_ok") =!= 1L).isEmpty)
  }

  test("portableSketchRollup equals registers computed per month " +
      "directly (rollup loses nothing)") {
    import graft.ops.AggOps
    val ev = Tables.events(spark, sfDir)
    val rolled = AggOps.portableSketchRollup(ev, "ts", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tus = graft.ops.EventOps.microsOf(ev, "ts")
    val direct = ev.filter(col("user_id").isNotNull)
      .select(unix_micros(date_trunc("month", timestamp_micros(tus)))
          .as("m_us"),
        AggOps.hllBucketOf(col("user_id")).as("bucket"),
        AggOps.hllRhoOf(col("user_id")).as("rho"))
      .groupBy("m_us", "bucket").agg(max("rho").as("reg"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rolled === direct)
  }

  test("minhashPrecisionAudit: exact twins score 10^6 true, a " +
      "colliding-but-dissimilar pair is marked false positive") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact twin
      (3L, "totally different words that never shingle-match anything")
    ).toDF("doc_id", "text")
    val got = DedupOps.minhashPrecisionAudit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.contains((1L, 2L)))
    val (ni, nu, tp, pos) = got((1L, 2L))
    assert(ni === nu && tp === 1000000L && pos === 1L)
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
    // Sanity on the fixture-scale corpus: every est-pair row carries a
    // consistent exact verdict (n_inter ≤ n_union, ppm in range).
    val full = DedupOps.minhashPrecisionAudit(
      DedupOps.dupCorpus(Tables.documents(spark, sfDir))).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4))
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
    }
  }

  // ---- content-defined chunking ----

  test("cdcChunkStats: shifted shared suffix chunks identically, " +
      "unrelated text shares nothing") {
    import graft.ops.DedupOps
    // A long shared suffix S at DIFFERENT offsets in docs 1 and 2: the
    // boundaries inside S depend only on S's content, so its interior
    // chunks get identical digests in both docs — the property
    // fixed-size blocking lacks. Doc 3 is unrelated.
    val sharedS = (1 to 40)
      .map(i => s"word$i token${i * 7 % 13} item${i * 3 % 11}")
      .mkString(" ")
    val docs = Seq(
      (1L, s"short prefix $sharedS"),
      (2L, s"a much longer and entirely different prefix text $sharedS"),
      (3L, "wholly unrelated content with no overlap whatsoever at all " +
        "and quite a bit of additional filler to give it many chunks")
    ).toDF("doc_id", "text")
    val got = DedupOps.cdcChunkStats(docs, divisor = 16L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._2 >= 1L, s"doc 1 must share interior chunks: $got")
    assert(got(2L)._2 >= 1L, s"doc 2 must share interior chunks: $got")
    assert(got(3L)._2 === 0L)
    assert(got(1L)._1 >= 3L && got(2L)._1 >= 3L)
  }

  test("cdcChunks is a PARTITION of the text: chunks reassemble the " +
      "original exactly, including multibyte and repetitive inputs") {
    import graft.ops.DedupOps
    // Seeded pseudo-random corpus: varied lengths (k-1 .. ~600 chars),
    // repetitive runs (boundary-hash collisions), multibyte code points
    // (é, 漢, emoji) interleaved — the adversarial cases for an
    // offset/slicing bug. Deterministic (fixed seed).
    val rnd = new scala.util.Random(42)
    val alphabet = "ab cde f 漢字é🙂 xyz 01"
    val docs = (1L to 60L).map { id =>
      val len = 7 + rnd.nextInt(600)
      val sb = new StringBuilder
      while (sb.length < len) {
        if (rnd.nextInt(5) == 0) sb.append("rep rep rep ")
        else sb.append(alphabet(rnd.nextInt(alphabet.length)))
      }
      (id, sb.toString)
    }.toDF("doc_id", "text")
    val reassembled = DedupOps.cdcChunks(docs, 8, 16L)
      .groupBy("doc_id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("j"),
        col("chunk")))).getField("chunk")).as("rebuilt"))
    val joined = docs.join(reassembled, Seq("doc_id"), "left")
    // Docs of ≥ 8 code points must reassemble exactly; shorter ones
    // have no gram positions and produce no chunks.
    val bad = joined
      .filter(length(col("text")) >= 8 && col("rebuilt") =!= col("text"))
    assert(bad.isEmpty, s"non-partition chunks for: ${bad.count()} docs")
    assert(joined.filter(length(col("text")) >= 8).count() > 0)
  }

  // ---- metadata-gated decode pipeline ----

  test("imageGatedAHash: survivors equal the gated plain-aHash set, " +
      "small images never decode") {
    import graft.ops.MultimodalOps
    val docs = Tables.documents(spark, sfDir)
    val gated = MultimodalOps.imageGatedAHash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val all = MultimodalOps.imageAHash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    val expected = all.filter { case (_, w, h, _) => w * h >= 64 }
      .map { case (id, _, _, bits) => id -> bits }.toMap
    assert(gated === expected)
    assert(all.exists { case (_, w, h, _) => w * h < 64 },
      "fixture must exercise the gate's reject branch")
  }

  // ---- cluster-map snapshot rebuild reads the index ----

  test("writeMinhashClusterMap from the index equals the corpus re-mine") {
    import graft.ops.{DedupOps, GraphOps}
    val known = DedupOps.dupCorpus(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_cmspec").toString
    DedupOps.writeMinhashIndex(known, idx)
    DedupOps.writeMinhashClusterMap(known, idx)
    val fromIndex = SinkOps.readVersion(spark, s"$idx/clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val remined = GraphOps.connectedComponents(
        DedupOps.minhashPairs(known.filter(col("text").isNotNull))
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex === remined)
  }

  test("writeEmbedClusterMap from the index equals the corpus re-mine") {
    import graft.ops.{GraphOps, SimilarityOps}
    val known = SimilarityOps.embedDupCorpus(
      Tables.embeddings(spark, sfDir))
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_cmspec").toString
    SimilarityOps.writeEmbedIndex(known, idx)
    SimilarityOps.writeEmbedClusterMap(known, idx)
    val fromIndex = SinkOps.readVersion(spark, s"$idx/clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val remined = GraphOps.connectedComponents(
        SimilarityOps.embedNearDupPairs(known)
          .select(col("vec_a").as("a"), col("vec_b").as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex === remined)
  }

  // ---- WAV RIFF metadata walk ----

  test("riffMetaOf: fmt/data fields match the encoder and malformed " +
      "payloads fail loudly") {
    import graft.ops.MultimodalOps
    val wav = MultimodalOps.syntheticWav(70L) // 64 + 70 = 134 samples
    val (af, ch, sr, bits, db) = MultimodalOps.riffMetaOf(wav)
    assert((af, ch, sr, bits, db) === ((1, 1, 8000, 16, 268L)))
    intercept[IllegalArgumentException] {
      MultimodalOps.riffMetaOf("RIFFxxxxNOPE".getBytes)
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.riffMetaOf(wav.take(16)) // headers only, no fmt/data
    }
  }

  test("audioMeta agrees with the real PCM decoder on sample counts") {
    import graft.ops.{Asset, MultimodalOps}
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 32)
    val meta = MultimodalOps.audioMeta(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    meta.foreach { case (id, nSamples) =>
      assert(nSamples === 64L + id % 128)
      // Cross-check the header-derived count against an actual decode.
      val dec = MultimodalOps.decodeWav(
        Asset(id, "wav", MultimodalOps.syntheticWav(id)))
      assert(nSamples === dec.n_samples)
    }
  }

  // ---- windowedTopKReplay ----

  test("windowedHllReplay equals the batch per-window registers and " +
      "register-max survives event duplication") {
    import graft.ops.AggOps
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft_stream_hll_spec").toString
    val got = graft.streaming.StreamOps.windowedHllReplay(ev, staging)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val winUs = 600000000L
    val tus = graft.ops.EventOps.microsOf(ev, "ts")
    val batch = ev.filter(col("user_id").isNotNull)
      .select((tus - pmod(tus, lit(winUs))).as("w_start_us"),
        AggOps.hllBucketOf(col("user_id")).as("bucket"),
        AggOps.hllRhoOf(col("user_id")).as("rho"))
      .groupBy("w_start_us", "bucket").agg(max("rho").as("reg"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === batch)
    // Duplicated delivery cannot change a max-merged register table.
    val staging2 = java.nio.file.Files
      .createTempDirectory("graft_stream_hll_spec2").toString
    val doubled = graft.streaming.StreamOps
      .windowedHllReplay(ev.union(ev), staging2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(doubled === batch)
  }

  test("windowedTopKReplay equals the batch windowed top-3 rank") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft_stream_topk_spec").toString
    val got = graft.streaming.StreamOps.windowedTopKReplay(ev, staging)
    val winUs = 600000000L
    val tus = graft.ops.EventOps.microsOf(ev, "ts")
    val agg = ev.select((tus - pmod(tus, lit(winUs))).as("w_start_us"),
        col("user_id"), col("value"))
      .groupBy("w_start_us", "user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("sum_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start_us").orderBy(col("n").desc, col("user_id").asc)
    val expected = agg.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
