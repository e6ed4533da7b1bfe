package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SinkOps}

class DedupOpsSpec extends SparkSpec {

  test("containmentPairs: quote-in-document caught asymmetrically, " +
      "disjoint docs silent") {
    import spark.implicits._
    val docs = Seq(
      // original: 16 words -> 9 grams
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      // quote doc: 10 words = q1 q2 + w3..w10 -> 3 grams, 1 of which
      // (w3..w10) is inside the original
      (2L, "q1 q2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")  // disjoint
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // inter=1, na=9, nb=3: cont_b = 333333 >= threshold; cont_a low
    assert(got((1L, 2L)) === ((1L, 9L, 3L, 111111L, 333333L)))
    assert(got.size === 1)
  }

  import spark.implicits._

  private def tinyDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "sphinx of black quartz judge my vow today")
  ).toDF("doc_id", "text")

  test("dupCorpus triples the corpus with exact and near copies") {
    val c = DedupOps.dupCorpus(tinyDocs).collect()
    assert(c.length === 9)
    val byId = c.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1000001L) === byId(1L))                   // exact copy
    assert(byId(2000001L) === byId(1L).split("\\s+", 2)(1)) // first word dropped
  }

  test("exactDedup keeps the min doc_id per duplicated text") {
    val out = DedupOps.exactDedup(DedupOps.dupCorpus(tinyDocs)).collect()
    // 3 groups (orig + exact copy); near copies are distinct texts.
    assert(out.length === 3)
    assert(out.forall(_.getLong(2) === 2L))               // dup_cnt
    assert(out.map(_.getLong(1)).toSet === Set(1L, 2L, 3L)) // keep_id = orig
  }

  test("minhashPairs finds exact copies with est_jaccard 1.0") {
    val pairs = DedupOps.minhashPairs(DedupOps.dupCorpus(tinyDocs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (id <- 1L to 3L)
      assert(pairs((id, id + 1000000L)) === 1.0)
    assert(pairs.values.forall(e => e >= 0.5 && e <= 1.0))
  }

  test("minhash signature = k rows per doc, stable across partitionings") {
    val corpus = DedupOps.dupCorpus(tinyDocs)
    val a = DedupOps.minhashSignatures(corpus).collect().toSet
    val b = DedupOps.minhashSignatures(corpus.repartition(7)).collect().toSet
    assert(a === b)
    assert(a.size === 9 * DedupOps.K)
  }

  test("simhash of identical texts is identical; exact pairs at hamming 0") {
    val sh = DedupOps.simhash(DedupOps.dupCorpus(tinyDocs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- 1L to 3L) assert(sh(id) === sh(id + 1000000L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << DedupOps.SimhashBits)))
    // the full 60-bit signature space is in use (a dead-bit regression —
    // e.g. hashing with fewer usable bits than SimhashBits — would leave
    // the top band constant across the corpus)
    assert(sh.values.map(v => v >> (DedupOps.SimhashBits - DedupOps.SimhashBandBits))
      .toSet.size > 1)
    val pairs = DedupOps.simhashPairs(DedupOps.dupCorpus(tinyDocs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (id <- 1L to 3L) assert(pairs((id, id + 1000000L)) === 0L)
  }

  test("simhash band domain is 4 bands x 32768 buckets (scale guard)") {
    assert(DedupOps.SimhashBands === 4 && DedupOps.SimhashBandBits === 15)
    assert(DedupOps.SimhashBands * DedupOps.SimhashBandBits === DedupOps.SimhashBits)
    // band keys drawn from the dup corpus stay inside [0, 2^15)
    val sh = DedupOps.simhash(DedupOps.dupCorpus(tinyDocs))
    val keys = (0 until DedupOps.SimhashBands).flatMap { j =>
      // integer `div`, not `/`: double division would lose low bits of a
      // 60-bit value past 2^53
      sh.selectExpr(
        s"(simhash div ${1L << (DedupOps.SimhashBandBits * j)}) " +
          s"% ${1 << DedupOps.SimhashBandBits} AS k")
        .collect().map(_.getLong(0))
    }
    assert(keys.forall(k => k >= 0 && k < (1 << DedupOps.SimhashBandBits)))
  }

  test("ngramJaccardPairs scores exact copies 1.0 and near copies below") {
    val out = DedupOps.ngramJaccardPairs(DedupOps.dupCorpus(tinyDocs), minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    for (id <- 1L to 3L) {
      assert(out((id, id + 1000000L)) === 1.0)
      val near = out((id, id + 2000000L))
      assert(near > 0.5 && near < 1.0) // one bigram lost of ~8
    }
  }

  test("chunkedParas cuts word streams into fixed-size chunks") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"w$i").mkString(" ")), // 10 + 10 + 5
      (2L, "solo"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = DedupOps.chunkedParas(docs, 10).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).length === 3)
    assert(out(1L)(0) === (1 to 10).map(i => s"w$i").mkString(" "))
    assert(out(1L)(2) === (21 to 25).map(i => s"w$i").mkString(" "))
    assert(out(2L) === Seq("solo"))
    assert(out(3L) === Seq.empty)
  }

  test("paragraphDedup keeps first (doc_id, idx) occurrence and reassembles") {
    val paras = Seq(
      (1L, Seq("aa", "bb")),
      (2L, Seq("bb", "cc")),
      (3L, Seq("aa")),
      (4L, Seq("cc", "aa", "dd"))
    ).toDF("doc_id", "paras")
    val out = DedupOps.paragraphDedup(paras).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out === Map(
      1L -> ((2L, "aa bb")), // both first occurrences
      2L -> ((1L, "cc")),    // "bb" lost to doc 1
      4L -> ((1L, "dd"))     // "cc" lost to doc 2, "aa" to doc 1
    ))                       // doc 3 lost everything: absent
  }

  test("paragraphDedup on chunked dup corpus drops exact copies only") {
    val out = DedupOps.paragraphDedup(
      DedupOps.chunkedParas(DedupOps.dupCorpus(tinyDocs), 10))
      .collect().map(_.getLong(0)).toSet
    // Exact copies (+1M) share every chunk with the original: gone.
    // Near copies (+2M) have shifted word chunks, all distinct: kept.
    assert(out === Set(1L, 2L, 3L, 2000001L, 2000002L, 2000003L))
  }

  test("paragraphDedup is identity on a paragraph-unique corpus") {
    val paras = (1L to 30L).map(i =>
      (i, Seq(s"p$i alpha", s"p$i beta", s"p$i gamma")))
      .toDF("doc_id", "paras")
    val out = DedupOps.paragraphDedup(paras).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size === 30)
    (1L to 30L).foreach { i =>
      assert(out(i) === ((3L, s"p$i alpha p$i beta p$i gamma")))
    }
  }

  test("dedupBloomPrefilter returns exactly the dedupAgainst result") {
    val incoming = DedupOps.dupCorpus(tinyDocs).select("doc_id", "text")
    val known = tinyDocs.filter(col("doc_id") <= 2).select("doc_id", "text")
    val expect = DedupOps.dedupAgainst(incoming, known)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = DedupOps.dedupBloomPrefilter(incoming, known)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
    assert(!got.contains(1000001L) && got.contains(3L))
  }

  test("dedupBloomPrefilter with empty known keeps every non-null row") {
    val incoming = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val known = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = DedupOps.dedupBloomPrefilter(incoming, known)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L))
  }

  test("dedup pipeline runs end-to-end on the documents fixture") {
    val corpus = DedupOps.dupCorpus(Tables.documents(spark, sfDir))
    val exact = DedupOps.exactDedup(corpus)
    assert(exact.count() === Tables.documents(spark, sfDir).count())
    // Every original doc's exact copy must surface as a minhash pair
    // (doc_a < 1M restricts to originals: copies of the same doc also
    // differ by exactly 1M, which would double the count).
    val mh = DedupOps.minhashPairs(corpus)
      .filter(col("doc_a") < 1000000L &&
        col("doc_b") === col("doc_a") + 1000000L)
    assert(mh.count() === exact.count())
  }

  test("fuzzyCanonicalize elects the most frequent in-block neighbor") {
    // Typo in the LAST token ("red widgt"): found via the FIRST-token
    // blocking pass (block "red") - the case single-key blocking on the
    // last token would miss. Typo in the FIRST token ("redd widget"):
    // found via the last-token pass. Both map to the frequent form.
    val rows = Seq.fill(5)("red widget") ++ Seq("red widgt") ++
      Seq("redd widget") ++ Seq.fill(3)("blue bolt")
    val df = rows.toDF("nm_in")
    val got = DedupOps.fuzzyCanonicalize(df, "nm_in")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got("red widgt") === (("red widget", 1, 1L)))
    assert(got("redd widget") === (("red widget", 1, 1L)))
    assert(got("red widget") === (("red widget", 0, 5L)))
    assert(got("blue bolt") === (("blue bolt", 0, 3L)))
  }

  test("dedupMinhashIncremental: planted cross-slice twins caught, " +
      "fresh texts kept") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec").toString
    DedupOps.writeMinhashIndex(tinyDocs, idx)
    val arrivals = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // exact twin of 1
      (102L, "my box with five dozen liquor jugs"),          // near twin of 2
      (103L, "completely unrelated sentence about distributed engines")
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupMinhashIncremental(arrivals, idx).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(101L)._1 === 1L)            // exact digest hit
    assert(got(101L)._2 >= 1L)             // and an LSH neighbor
    assert(got(101L)._3 === 0L)
    assert(got(102L) === ((0L, 1L, 0L)))   // near twin: LSH-only catch
    assert(got(103L) === ((0L, 0L, 1L)))   // fresh survives
  }

  test("dedupMinhashIncremental scans only the index, never the corpus") {
    // Arrivals are an in-memory DataFrame, so every file scan in the
    // physical plan must read the persisted index — the corpus that
    // built it contributes no scan (the whole point of incremental:
    // per-batch cost is O(arrivals), the known side is pre-mined).
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec2").toString
    DedupOps.writeMinhashIndex(tinyDocs, idx)
    val arrivals = Seq((200L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val plan = DedupOps.dedupMinhashIncremental(arrivals, idx)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.contains("graft_mhidx_spec2"),
      s"non-index file scan in plan: $s"))
  }

  test("appendToMinhashIndex: a twin is caught only after its original " +
      "is admitted") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec3").toString
    DedupOps.writeMinhashIndex(tinyDocs, idx)
    val fresh = Seq(
      (300L, "a genuinely novel admitted document about engine internals"))
      .toDF("doc_id", "text")
    val twin = Seq(
      (301L, "a genuinely novel admitted document about engine internals"))
      .toDF("doc_id", "text")
    // Before the append the twin of the not-yet-admitted doc survives...
    val before = DedupOps.dedupMinhashIncremental(twin, idx).collect().head
    assert((before.getLong(1), before.getLong(2), before.getLong(3))
      === ((0L, 0L, 1L)))
    // ...admit the original, append, and the same twin is now caught
    // by BOTH the digest and the banded near-dup path.
    val v1 = DedupOps.dedupMinhashIncremental(fresh, idx).collect().head
    assert(v1.getLong(3) === 1L)
    DedupOps.appendToMinhashIndex(fresh, idx)
    val after = DedupOps.dedupMinhashIncremental(twin, idx).collect().head
    assert(after.getLong(1) === 1L)
    assert(after.getLong(2) >= 1L)
    assert(after.getLong(3) === 0L)
  }

  test("compactMinhashIndex: dedups replayed appends, shrinks files, " +
      "and leaves the probe verdict unchanged") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec_cmp").toString
    DedupOps.writeMinhashIndex(tinyDocs, idx)
    val admitted = Seq(
      (400L, "a freshly admitted paragraph concerning query planners"))
      .toDF("doc_id", "text")
    // Replayed delivery: the same batch appended twice.
    DedupOps.appendToMinhashIndex(admitted, idx)
    DedupOps.appendToMinhashIndex(admitted, idx)
    val probe = Seq(
      (401L, "a freshly admitted paragraph concerning query planners"),
      (402L, "wholly unrelated content that must keep surviving"))
      .toDF("doc_id", "text")
    def verdict() = DedupOps.dedupMinhashIncremental(probe, idx).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val before = verdict()
    def head(sub: String) = SinkOps.readVersion(spark, s"$idx/$sub")
    val bandsBefore = head("bands").count()
    val distinctBands = head("bands").distinct().count()
    assert(bandsBefore > distinctBands, "double append must duplicate rows")
    // The head snapshot's files — superseded generations stay on disk
    // until VACUUM, so a listing of the table root would count them.
    def headFiles(sub: String) = head(sub).inputFiles.length
    val filesBefore = headFiles("bands")
    DedupOps.compactMinhashIndex(idx)
    assert(head("bands").count() === distinctBands)
    assert(head("digests").count() === head("digests").distinct().count())
    assert(headFiles("bands") < filesBefore,
      "compaction must reduce the file count")
    val after = verdict()
    assert(after === before, "compaction must not change probe verdicts")
    assert(after(401L)._1 === 1L && after(401L)._3 === 0L)
    assert(after(402L) === ((0L, 0L, 1L)))
  }

  test("dedupMinhashIncremental equals the full cross-corpus re-mine") {
    // The O(arrivals) persisted-index path must lose NOTHING against
    // the O(corpus) re-mine: per arrival, n_near equals the number of
    // cross-boundary pairs minhashCrossPairs finds on the union corpus
    // (same signatures, same bands, same estimate threshold).
    val known = Tables.documents(spark, sfDir).select("doc_id", "text")
    val arrivals = DedupOps.dupCorpus(known)
      .filter(col("doc_id") >= 1000000L)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec4").toString
    DedupOps.writeMinhashIndex(known, idx)
    val incr = DedupOps.dedupMinhashIncremental(arrivals, idx)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val full = DedupOps.minhashCrossPairs(
        known.union(arrivals), boundary = 1000000L)
      .collect().groupBy(_.getLong(1)).view.mapValues(_.length.toLong).toMap
    // every arrival with cross pairs agrees on the exact count…
    full.foreach { case (id, n) => assert(incr(id) === n, s"arrival $id") }
    // …and arrivals without any cross pair report n_near = 0
    incr.filter(_._2 > 0L).keySet.foreach(id => assert(full.contains(id)))
  }

  test("assignClustersIncremental joins existing clusters; bridges assign " +
      "without merging") {
    // Known corpus: dupCorpus(tinyDocs) — each doc forms a cluster
    // {id, id+1M, id+2M} with min label = id.
    val known = DedupOps.dupCorpus(tinyDocs)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_spec5").toString
    DedupOps.writeMinhashIndex(known, idx)
    DedupOps.writeMinhashClusterMap(known, idx)
    val arrivals = Seq(
      // exact twin of doc 2's text → joins cluster 2
      (9000001L, "pack my box with five dozen liquor jugs"),
      // fresh text, no match → own singleton
      (9000002L, "completely novel words never seen in the known corpus"))
      .toDF("doc_id", "text")
    val got = DedupOps.assignClustersIncremental(arrivals, idx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(9000001L)._1 === 2L)
    assert(got(9000001L)._2 >= 1L)
    assert(got(9000002L) === ((9000002L, 0L)))
    // Assignment-only: the known cluster map itself is untouched by
    // arrivals (no merge happened on disk).
    val cm = SinkOps.readVersion(spark, idx + "/clusters")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm.keySet.forall(_ < 9000000L))
  }

  test("fuzzyCanonicalize honors blocking: no shared token, no pair") {
    // "rod belt" is within maxDist=2 of "red bolt" (rod->red, belt->
    // bolt) but shares NEITHER first nor last token with it, so no
    // blocking pass may pair them: each canonicalizes to itself even
    // though a full O(n^2) scan would have linked them. Blocking is a
    // declared recall trade and the op must honor it deterministically.
    val df = (Seq.fill(9)("red bolt") ++ Seq.fill(2)("rod belt"))
      .toDF("nm_in")
    val got = DedupOps.fuzzyCanonicalize(df, "nm_in")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("red bolt") === "red bolt")
    assert(got("rod belt") === "rod belt")
  }
}
