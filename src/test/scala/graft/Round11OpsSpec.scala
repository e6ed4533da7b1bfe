package graft

import org.apache.spark.sql.functions._
import graft.ops.{CurationOps, SimilarityOps, SinkOps}
import graft.ops.SinkOps.SkipPred._

/** Specs for the round-11 additions: hybrid dense+sparse retrieval,
  * the shared-truth multi-ranker evaluation, manifest-level zone-map
  * file skipping, and the snapshot changefeed.
  */
class Round11OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private val HQ = Seq((1L, "hash join"), (2L, "fast scan filter"),
    (3L, "window agg"), (4L, "customer order query"),
    (5L, "slow merge sort"))

  private def qvecs(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id").between(1L, 5L))
      .select(col("vec_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), 2, SimilarityOps.Dims - 1))
          .as("embedding"))

  // ---- hybridTopK ----

  test("hybridTopK is exactly the RRF merge of the two artifact-served " +
      "lists: membership is the union and every rrf score recomputes " +
      "from the member ranks") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val bmPath = tmp("r11_hyb_bm25")
    val ivfPath = tmp("r11_hyb_ivf")
    CurationOps.writeBm25Index(docs, bmPath)
    SimilarityOps.writeIvfIndex(emb, ivfPath, trainIters = 0)
    val sparse = CurationOps.bm25TopKIndexed(spark, bmPath, HQ, 20)
      .select("q_id", "doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dense = SimilarityOps
      .ivfProbeIncremental(qvecs(emb), ivfPath, 20)
      .select(col("q_id"), col("vec_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fused = CurationOps.hybridTopK(spark, bmPath, ivfPath, HQ,
      qvecs(emb)).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (r.getLong(2), r.getLong(3))
      assert(ra == sparse.getOrElse(key, 0L),
        s"$key sparse rank mismatch")
      assert(rb == dense.getOrElse(key, 0L),
        s"$key dense rank mismatch")
      assert(ra > 0L || rb > 0L, s"$key in neither input list")
      def c(rk: Long) = if (rk == 0L) 0L else 1000000000L / (60L + rk)
      assert(r.getLong(4) == c(ra) + c(rb), s"$key rrf mismatch")
    }
    // Both modalities actually contribute members to the fused top-10
    // (fusion that degenerates to one ranker would pass the row checks).
    assert(fused.exists(r => r.getLong(2) > 0L && r.getLong(3) == 0L) ||
      fused.exists(r => r.getLong(3) > 0L && r.getLong(2) == 0L),
      "fused list identical to both inputs — fusion not exercised")
  }

  // ---- rankEvalMulti ----

  test("rankEvalMulti shares ONE truth set: n_rel per q_id is identical " +
      "across rankers, metrics stay in [0, 10^6], and the single-tag " +
      "form round-trips rankEval") {
    val docs = Tables.documents(spark, sfDir)
    val base = CurationOps.bm25TopK(docs, HQ, 10)
      .select("q_id", "doc_id", "rnk")
    val tagged = base.withColumn("ranker", lit("a"))
      .unionByName(base.withColumn("ranker", lit("b")))
    val out = CurationOps.rankEvalMulti(docs, HQ, tagged, 10).collect()
    assert(out.length == 2 * HQ.length)
    val byQ = out.groupBy(_.getLong(1))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).distinct.length == 1,
        s"q=$q n_rel differs across rankers")
    }
    out.foreach { r =>
      Seq(5, 6, 7, 8).foreach { i =>
        val v = r.getLong(i)
        assert(v >= 0L && v <= 1000000L, s"metric $i out of ppm range: $v")
      }
    }
    // identical lists under two tags score identically
    val a = out.filter(_.getString(0) == "a").map(r =>
      (r.getLong(1), r.getLong(3), r.getLong(5), r.getLong(8))).sorted
    val b = out.filter(_.getString(0) == "b").map(r =>
      (r.getLong(1), r.getLong(3), r.getLong(5), r.getLong(8))).sorted
    assert(a.sameElements(b))
    // and the single-ranker wrapper agrees with the multi path
    val single = CurationOps.rankEval(docs, HQ, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).sorted
    val multiA = out.filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(5))).sorted
    assert(single.sameElements(multiA))
  }

  // ---- manifest zone-map skip ----

  test("zone-map skip plans STRICTLY fewer files than the snapshot " +
      "holds under a selective predicate, and the read equals the " +
      "full-scan filter") {
    val ev = Tables.events(spark, sfDir)
    val path = tmp("r11_vskip")
    (0L to 2L).foreach { r =>
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === r)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
    }
    val plan = SinkOps.planVersionWhere(spark, path,
      Seq(LongRange("event_id", 100L, 299L)))
    val (kept, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "stats") == "event_id")
    assert(total == 12, s"expected 3 commits x 4 files, got $total")
    assert(kept.size < total,
      s"no file skipped: kept ${kept.size} of $total")
    assert(kept.nonEmpty)
    val got = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("event_id", 100L, 299L)))
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = ev.filter(col("event_id").between(100L, 299L))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("zone-map skip of a no-match range plans zero files and returns " +
      "an empty, correctly-typed result") {
    val ev = Tables.events(spark, sfDir)
    val path = tmp("r11_vskip0")
    SinkOps.commitVersion(ev.repartitionByRange(4, col("event_id")),
      path, SinkOps.CommitSpec(stats = Seq("event_id")))
    val none = Seq(LongRange("event_id", 5000000L, 6000000L))
    val plan = SinkOps.planVersionWhere(spark, path, none)
    assert(plan.files.isEmpty && plan.filesListed == 4)
    val out = SinkOps.readVersionWhere(spark, path, none)
    assert(out.count() == 0L)
    assert(out.columns.contains("event_type"))
  }

  // ---- staging-aware version allocation (WAP/commit interleave) ----

  test("a commit issued while a version is STAGED allocates past the " +
      "staged number, and the now-STALE staged version refuses to " +
      "publish under the advanced head (no silent lost update) — " +
      "re-staging on top of the new head succeeds") {
    import spark.implicits._
    val path = tmp("r11_wapint")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    val staged = SinkOps.stageVersion(Seq((2L, "b")).toDF("id", "s"), path)
    assert(staged == 2)
    // Interleaved commit must NOT reuse (and clobber) v2's data dir.
    val committed = SinkOps.commitVersion(Seq((3L, "c")).toDF("id", "s"),
      path)
    assert(committed == 3, s"commit reused the staged number: $committed")
    // Publishing v2 under head v3 would "succeed" into a manifest no
    // head-lineage snapshot references — the staged batch's rows would
    // silently never reach the head. The OCC check refuses loudly.
    val ex = intercept[IllegalArgumentException] {
      SinkOps.publishStaged(spark, path, staged)
    }
    assert(ex.getMessage.contains("stale staged"), ex.getMessage)
    // The refused stage is intact: the caller re-stages its batch on
    // top of the advanced head and the batch reaches head lineage.
    assert(SinkOps.readStaged(spark, path, staged)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)), "staged snapshot lost on refusal")
    SinkOps.rollbackStaged(spark, path, staged)
    val restaged = SinkOps.stageVersion(
      Seq((2L, "b")).toDF("id", "s"), path)
    assert(restaged == 4)
    SinkOps.publishStaged(spark, path, restaged)
    val head = SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(head.sameElements(Array(1L, 2L, 3L)),
      s"re-staged batch missing from head: ${head.mkString(",")}")
    val v3 = SinkOps.readVersion(spark, path, Some(3))
      .select("id").collect().map(_.getLong(0)).sorted
    // v3 carried the committed head (v1), not the then-unpublished v2.
    assert(v3.sameElements(Array(1L, 3L)))
  }

  // ---- unigram-LM tokenizer ----

  test("unigram segmentation is a true segmentation: reversed tokens " +
      "concatenate back to the word, every token is a known piece, and " +
      "the key re-derives from the path") {
    import graft.ops.UnigramOps
    val docs = Tables.documents(spark, sfDir)
    val wf = UnigramOps.wordFreq(docs)
    val pieces = UnigramOps.seedPieces(wf)
    val pmap = pieces.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val seg = UnigramOps.segmentWords(wf.select("w"), pieces).collect()
    assert(seg.nonEmpty)
    seg.foreach { r =>
      val w = r.getString(0)
      val toks = r.getSeq[String](2)
      assert(toks.reverse.mkString("") == w,
        s"'$w' segmented to ${toks.reverse.mkString("|")}")
      toks.foreach(t => assert(pmap.contains(t), s"unknown piece '$t'"))
      val key = toks.length.toLong * 100000000L - toks.map(pmap).sum
      assert(r.getLong(1) == key,
        s"'$w' key ${r.getLong(1)} != path-derived $key")
    }
  }

  test("unigram train: single chars never pruned, multi-char pieces " +
      "only when used, scores are the floor-ppm of usage") {
    import graft.ops.UnigramOps
    val docs = Tables.documents(spark, sfDir)
    val out = UnigramOps.trainPieces(docs).collect()
    val chars = UnigramOps.wordFreq(docs).select("w").collect()
      .flatMap(_.getString(0).toCharArray).map(_.toString).distinct
    val ps = out.map(_.getString(0)).toSet
    chars.foreach(c => assert(ps.contains(c), s"char piece '$c' pruned"))
    val tot = out.map(_.getLong(1)).sum
    out.foreach { r =>
      val (p, used, sc) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(p.length <= UnigramOps.MaxPieceLen)
      if (p.length > 1) assert(used >= 1L, s"unused multi-char '$p' kept")
      assert(sc == used * 1000000L / tot, s"'$p' score not floor-ppm")
    }
  }

  test("unigram persisted apply: OOV word falls back to char counting " +
      "and is counted; in-vocab corpus applies with zero OOV") {
    import graft.ops.UnigramOps
    val docs = Tables.documents(spark, sfDir)
    val path = tmp("r11_unigram")
    UnigramOps.trainWritePieces(docs, path)
    val clean = UnigramOps.tokenizeWithPieces(docs, path)
    assert(clean.agg(sum("n_oov")).head().getLong(0) == 0L)
    val planted = UnigramOps.tokenizeWithPieces(
      docs.select(col("doc_id"),
        concat(col("text"), lit(" qzjxvw")).as("text")), path)
    val withText = docs.filter(col("text").isNotNull).count()
    assert(planted.agg(sum("n_oov")).head().getLong(0) == withText,
      "every non-null doc should contribute exactly one planted OOV word")
    // the OOV word contributes its 6 chars as tokens
    val delta = planted.agg(sum("n_tokens")).head().getLong(0) -
      clean.agg(sum("n_tokens")).head().getLong(0)
    assert(delta == 6L * withText, s"OOV fallback token delta $delta")
  }

  test("tokenizerCompare: both families over the same word universe, " +
      "fertility at least 1 token per word") {
    import graft.ops.UnigramOps
    val docs = Tables.documents(spark, sfDir)
    val rows = UnigramOps.tokenizerCompare(docs, 8).collect()
    assert(rows.map(_.getString(0)).sorted.sameElements(
      Array("bpe", "unigram")))
    val Array(a, b) = rows.sortBy(_.getString(0))
    assert(a.getLong(1) == b.getLong(1), "word universes differ")
    rows.foreach(r => assert(r.getLong(3) >= 1000000L))
  }

  // ---- changefeed ----

  test("readChanges returns exactly the rows added in the window, " +
      "reads only the added dirs, and refuses an empty window") {
    val ev = Tables.events(spark, sfDir)
    val path = tmp("r11_vchg")
    (0L to 2L).foreach { r =>
      SinkOps.commitVersion(ev.filter(col("event_id") % 3 === r), path); ()
    }
    val got = SinkOps.readChanges(spark, path, 1, 3)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = ev.filter(col("event_id") % 3 =!= 0L)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    // Planning is dir-difference: the feed's scan never touches v1's dir.
    val plan = SinkOps.readChanges(spark, path, 1, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("data/v1"), s"changefeed read the base dir:\n$plan")
    intercept[IllegalArgumentException] {
      SinkOps.readChanges(spark, path, 2, 2)
    }
  }

  test("changefeed-driven IVM refresh reproduces the full join " +
      "ROW-FOR-ROW with the delta sourced from the table's manifests") {
    import graft.ops.{JoinOps, SinkOps}
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val bd = lit("1997-01-01").cast("date")
    val tbl = tmp("r11_cfivm_tbl")
    val ld = li.filter(col("l_shipdate").cast("date") >= bd)
    SinkOps.commitVersion(
      li.filter(col("l_shipdate").cast("date") < bd), tbl)
    SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 0), tbl)
    SinkOps.commitVersion(ld.filter(col("l_orderkey") % 2 === 1), tbl)
    val view = tmp("r11_cfivm_view")
    JoinOps.writeJoinView(o, SinkOps.readVersion(spark, tbl, Some(1)),
      view)
    val refreshed = spark.read.parquet(view).unionByName(
      JoinOps.joinViewRows(o,
        broadcast(SinkOps.readChanges(spark, tbl, 1, 3))))
    val full = JoinOps.joinViewRows(o, li)
    assert(refreshed.count() == full.count())
    assert(refreshed.exceptAll(full).isEmpty &&
      full.exceptAll(refreshed).isEmpty,
      "changefeed-driven refresh diverges from the full join")
  }

  // ---- deletion vectors (merge-on-read delete / merge) ----

  private def manifestText(path: String, v: Int): String = {
    val mf = new org.apache.hadoop.fs.Path(path, f"manifest/v$v%05d.txt")
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(mf)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def dataDirNames(path: String): Set[String] = {
    val dr = new org.apache.hadoop.fs.Path(path, "data")
    dr.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(dr).map(_.getPath.getName).toSet
  }

  test("deleteVersionKeys rewrites ZERO data dirs (sidecar only), the " +
      "pinned prior version still reads the deleted rows, and the new " +
      "head resolves the anti-join") {
    import spark.implicits._
    val path = tmp("r11_dv_del")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"),
      path)
    val before = dataDirNames(path)
    val v = SinkOps.deleteVersionKeys(Seq(2L, 4L).toDF("id"), path, "id")
    assert(v == 2)
    assert(dataDirNames(path) == before,
      "delete commit touched a data dir — not merge-on-read")
    assert(manifestText(path, 2).contains("delete:deletes/v2:id"))
    val head = SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(head.sameElements(Array(1L, 3L)))
    val pinned = SinkOps.readVersion(spark, path, Some(1))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(pinned.sameElements(Array(1L, 2L, 3L, 4L)),
      "pinned reader lost rows to a later delete — time travel broken")
  }

  test("a key re-inserted AFTER its delete sidecar survives: the " +
      "sidecar scopes only to data dirs committed before it " +
      "(ordered-fold semantics)") {
    import spark.implicits._
    val path = tmp("r11_dv_reins")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
    SinkOps.commitVersion(Seq((2L, "b2")).toDF("id", "s"), path)
    val head = SinkOps.readVersion(spark, path)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(head.sameElements(Array((1L, "a"), (2L, "b2"))),
      s"re-insert lost or duplicated: ${head.mkString(",")}")
  }

  test("mergeVersion upserts in ONE commit: matched keys read as their " +
      "new rows, unmatched keys untouched, new keys inserted") {
    import spark.implicits._
    val path = tmp("r11_dv_mrg")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), path)
    val v = SinkOps.mergeVersion(
      Seq((2L, "B"), (9L, "i")).toDF("id", "s"), path, "id")
    assert(v == 2)
    val head = SinkOps.readVersion(spark, path)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(head.sameElements(
      Array((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i"))),
      s"merge result wrong: ${head.mkString(",")}")
  }

  test("compactVersions RESOLVES AND PURGES deletion vectors — the " +
      "compacted manifest carries no delete lines and reads " +
      "identically — and a DV-manifest zone-map read resolves inline") {
    val ev = Tables.events(spark, sfDir).limit(500)
    val path = tmp("r11_dv_cmp")
    SinkOps.commitVersion(
      ev.repartitionByRange(2, col("event_id")),
      path, SinkOps.CommitSpec(stats = Seq("event_id")))
    SinkOps.deleteVersionKeys(
      ev.filter(col("event_id") % 2 === 0).select("event_id"),
      path, "event_id")
    // DV-aware zone-map read (round 12): prunes AND resolves in one
    // read — equals the resolved full-scan filter over the same range.
    val dvSkim = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("event_id", 0L, 100L)))
      .select("event_id").collect().map(_.getLong(0)).sorted
    val dvWant = SinkOps.readVersion(spark, path)
      .filter(col("event_id").between(0L, 100L))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(dvSkim.sameElements(dvWant),
      s"DV zone-map read diverged: ${dvSkim.length} vs ${dvWant.length}")
    val want = SinkOps.readVersion(spark, path)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val cv = SinkOps.compactVersions(spark, path,
      SinkOps.Compaction.Full(Some("event_id")))
    assert(!manifestText(path, cv).contains("delete:"),
      "compaction failed to purge the delete sidecar lines")
    val got = SinkOps.readVersion(spark, path, Some(cv))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    // Sidecars purged from the head: zone-map reads work again.
    assert(SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("event_id", 0L, Long.MaxValue)))
      .count() == want.length.toLong)
  }

  test("expireVersions reference-counts delete sidecars: an expired " +
      "merge's sidecar GCs with its history, a still-referenced one " +
      "survives") {
    import spark.implicits._
    val path = tmp("r11_dv_gc")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id") // v2
    SinkOps.compactVersions(spark, path)                      // v3, no DV
    val delDir = new org.apache.hadoop.fs.Path(path, "deletes/v2")
    val fs = delDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(delDir))
    // keep=2: v2 still references the sidecar — it must survive.
    SinkOps.expireVersions(spark, path, keep = 2)
    assert(fs.exists(delDir), "sidecar GC'd while still referenced")
    assert(SinkOps.readVersion(spark, path, Some(2))
      .select("id").collect().map(_.getLong(0)).sameElements(Array(1L)))
    // keep=3: nothing references it — it must go.
    SinkOps.expireVersions(spark, path, keep = 3)
    assert(!fs.exists(delDir), "unreferenced sidecar survived VACUUM")
    assert(SinkOps.readVersion(spark, path, Some(3))
      .select("id").collect().map(_.getLong(0)).sameElements(Array(1L)))
  }

  test("readDeletedKeys yields the window's touched keys and fails " +
      "loudly on a delete-free window or mixed key columns") {
    import spark.implicits._
    val path = tmp("r11_dv_cdk")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), path)
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
    SinkOps.mergeVersion(Seq((3L, "C")).toDF("id", "s"), path, "id")
    val keys = SinkOps.readDeletedKeys(spark, path, 1, 3)
      .collect().map(_.getLong(0)).sorted
    assert(keys.sameElements(Array(2L, 3L)))
    intercept[IllegalArgumentException] {
      SinkOps.readDeletedKeys(spark, path, 2, 2)
    }
    val path2 = tmp("r11_dv_cdk2")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path2)
    val v2 = SinkOps.commitVersion(Seq((2L, "b")).toDF("id", "s"), path2)
    intercept[IllegalArgumentException] {
      SinkOps.readDeletedKeys(spark, path2, 1, v2) // data-only window
    }
  }

  test("compactSmallDirs rewrites ONLY the small tail: the monolith's " +
      "files survive byte-identical with their stats sidecar, the new " +
      "manifest is monolith + packed dir, pinned readers untouched, " +
      "and the packed head stays zone-map skippable") {
    val e = Tables.events(spark, sfDir).limit(3000)
    val path = tmp("r11_binpack")
    SinkOps.commitVersion(e.filter(col("event_id") % 4 =!= 3), path,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    (0 to 2).foreach { r =>
      SinkOps.commitVersion(
        e.filter(col("event_id") % 4 === 3 && col("event_id") % 3 === r),
        path); ()
    }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def files(dir: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(root, dir))
        .map(st => (st.getPath.getName, st.getLen,
          st.getModificationTime)).toSet
    val monolithBefore = files("data/v1")
    val preHead = SinkOps.readVersion(spark, path, Some(4))
      .select("event_id").collect().map(_.getLong(0)).sorted
    val bigBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(root, "data/v1")).getLength
    val v = SinkOps.compactVersions(spark, path,
      SinkOps.Compaction.SmallDirs(bigBytes, Some("event_id")))
    assert(v == 5)
    assert(files("data/v1") == monolithBefore,
      "bin-packing touched the monolith dir")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      "stats/v1.txt")), "monolith stats sidecar lost")
    assert(manifestText(path, v).split("\n").toSeq
        .filterNot(_.startsWith("ts:")) == Seq("data/v1", "data/v5"),
      "packed manifest is not monolith + packed dir")
    val packedHead = SinkOps.readVersion(spark, path, Some(v))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(packedHead.sameElements(preHead), "bin-packing lost rows")
    val pinned = SinkOps.readVersion(spark, path, Some(4))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(pinned.sameElements(preHead), "pinned pre-pack reader broken")
    // Whole head skippable: monolith stats carried + packed stats fresh.
    val lo = preHead(preHead.length / 2)
    val skim = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("event_id", lo, lo + 50)))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(skim.sameElements(preHead.filter(x => x >= lo && x <= lo + 50)))
    intercept[IllegalArgumentException] {
      // nothing below 1 byte
      SinkOps.compactVersions(spark, path, SinkOps.Compaction.SmallDirs(1L))
    }
  }

  test("compactSmallDirs refuses when every small dir sits BEHIND a " +
      "delete sidecar (packing across delete scopes needs " +
      "compactVersions)") {
    import spark.implicits._
    val path = tmp("r11_binpack_dv")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
    // The only data dir precedes the sidecar — frozen, nothing packable.
    val ex = intercept[IllegalArgumentException] {
      SinkOps.compactVersions(spark, path,
        SinkOps.Compaction.SmallDirs(Long.MaxValue))
    }
    assert(ex.getMessage.contains("behind a delete sidecar"))
  }

  test("wordpiece greedy: per-word n_greedy >= n_viterbi over the same " +
      "pieces, the OOV sets agree exactly, and a hand-checked word " +
      "segments longest-first") {
    import spark.implicits._
    import graft.ops.UnigramOps
    val docs = Tables.documents(spark, sfDir).limit(300)
    val pieces = UnigramOps.trainPieces(docs)
      .select(col("piece").as("p"), col("sc_ppm").as("sc"))
      .localCheckpoint(true)
    val words = UnigramOps.wordFreq(docs).select("w").limit(400)
      .localCheckpoint(true)
    val vit = UnigramOps.segmentWords(words, pieces)
      .select(col("w"), size(col("toks")).cast("long").as("n_vit"))
    val gr = UnigramOps.greedySegment(words, pieces)
    val both = vit.join(gr, "w").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(!r.getBoolean(3), s"training word ${r.getString(0)} OOV")
      assert(r.getLong(2) >= r.getLong(1),
        s"greedy beat Viterbi on ${r.getString(0)}: " +
          s"${r.getLong(2)} < ${r.getLong(1)}")
    }
    // Hand-checked greedy walk: pieces {ab, abc, d, a, b, c} on
    // "abcd" -> abc|d (longest-first), 2 tokens; Viterbi agrees here.
    val handP = Seq(("ab", 100L), ("abc", 90L), ("d", 10L), ("a", 5L),
      ("b", 5L), ("c", 5L)).toDF("p", "sc")
    val handW = Seq("abcd").toDF("w")
    val g = UnigramOps.greedySegment(handW, handP).head()
    assert(g.getLong(1) == 2L && !g.getBoolean(2))
    // A word with a char outside the alphabet goes OOV in BOTH.
    val oovW = Seq("abxd").toDF("w")
    assert(UnigramOps.greedySegment(oovW, handP).head().getBoolean(2))
  }

  test("bloom file skip: a point probe on an UNCLUSTERED high-" +
      "cardinality key plans strictly fewer files than the snapshot " +
      "holds, equals the full-scan filter, and a probing miss still " +
      "returns a correctly-typed empty result") {
    val e = Tables.events(spark, sfDir).limit(4000)
    val path = tmp("r11_bloom")
    (0 to 2).foreach { r =>
      SinkOps.commitVersion(
        e.filter(col("user_id") % 3 === r)
          .repartition(4, col("user_id")),
        path, SinkOps.CommitSpec(blooms = Seq("event_id"))); ()
    }
    val probe = e.agg(max("event_id")).head().getLong(0)
    val plan = SinkOps.planVersionWhere(spark, path,
      Seq(LongIn("event_id", Seq(probe))))
    val (files, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "blooms") == "event_id")
    assert(total >= 6, s"fixture produced too few files to skip: $total")
    assert(files.nonEmpty && files.size < total,
      s"bloom planned ${files.size}/$total files — no skipping")
    val got = SinkOps.readVersionWhere(spark, path,
        Seq(LongIn("event_id", Seq(probe))))
      .select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = SinkOps.readVersion(spark, path)
      .filter(col("event_id") === probe)
      .select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want), "bloom read diverges from full scan")
    // A value present nowhere: usually 0 files planned (false
    // positives possible but bounded); the read must be empty and
    // keep the table's schema either way.
    val miss = SinkOps.readVersionWhere(spark, path,
      Seq(LongIn("event_id", Seq(-987654321L))))
    assert(miss.columns.contains("event_type"))
    assert(miss.count() == 0L)
  }

  test("bloom planning composes with deletion vectors and absent " +
      "sidecars: a dir without blooms is always planned in full, and " +
      "a DV-manifest point read resolves inline (deleted key gone, " +
      "surviving key intact)") {
    import spark.implicits._
    val path = tmp("r11_bloom_dv")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path,
      SinkOps.CommitSpec(blooms = Seq("id")))
    // A plain commit (no bloom sidecar): its files always planned.
    SinkOps.commitVersion(Seq((3L, "c")).toDF("id", "s"), path)
    def probe(k: Long) = Seq(LongIn("id", Seq(k)))
    val plan = SinkOps.planVersionWhere(spark, path, probe(3L))
    val (files, total) = (plan.files, plan.filesListed)
    assert(files.nonEmpty && total >= files.size)
    assert(SinkOps.readVersionWhere(spark, path, probe(3L)).count() == 1L)
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
    // DV-aware bloom read (round 12): the probe resolves the delete
    // sidecar inline — deleted key reads empty, survivor unchanged (a
    // delete never ADDS values, so a bloom miss still proves absence).
    assert(SinkOps.readVersionWhere(spark, path, probe(2L)).count() == 0L,
      "deleted key served through a DV-manifest bloom read")
    assert(SinkOps.readVersionWhere(spark, path, probe(1L))
      .select("s").head().getString(0) == "a")
  }

  test("table-as-stream: tailing the manifest log reproduces the full " +
      "join row-for-row, and a delete-sidecar commit in the window is " +
      "refused loudly") {
    import spark.implicits._
    import graft.ops.JoinOps
    val o = Tables.orders(spark, sfDir).limit(600)
      .localCheckpoint(true)
    val li = Tables.lineitem(spark, sfDir).limit(3000)
      .localCheckpoint(true)
    val tbl = tmp("r11_scf_tbl")
    SinkOps.commitVersion(li.filter(col("l_orderkey") % 3 === 0), tbl)
    SinkOps.commitVersion(li.filter(col("l_orderkey") % 3 === 1), tbl)
    SinkOps.commitVersion(li.filter(col("l_orderkey") % 3 === 2), tbl)
    val view = graft.streaming.StreamOps.changefeedStreamReplay(
      o, tbl, 1, tmp("r11_scf_view"))
    val full = JoinOps.joinViewRows(o, li)
    assert(view.exceptAll(full).isEmpty && full.exceptAll(view).isEmpty,
      "streamed manifest-tail view diverges from the full join")
    // A DV commit poisons the feed window: the stream must refuse.
    val tbl2 = tmp("r11_scf_dv")
    SinkOps.commitVersion(li.limit(50), tbl2)
    SinkOps.deleteVersionKeys(
      li.limit(50).select(col("l_orderkey")).distinct().limit(5)
        .select(col("l_orderkey")), tbl2, "l_orderkey")
    val ex = intercept[Exception] {
      graft.streaming.StreamOps.changefeedStreamReplay(
        o, tbl2, 1, tmp("r11_scf_view2"))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m =>
      m != null && m.contains("delete-sidecar")),
      s"wrong failure: ${ex.getMessage}")
  }

  test("publishStaged is the optimistic-concurrency commit point: a " +
      "racing writer landing the same version number makes publish " +
      "fail LOUDLY with the staged snapshot intact (no lost update, " +
      "no torn manifest)") {
    import spark.implicits._
    val path = tmp("r11_occ")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    val sv = SinkOps.stageVersion(Seq((2L, "b")).toDF("id", "s"), path)
    // Simulate the race the staging-aware allocator cannot see: a
    // writer that landed manifest v<sv> directly between stage and
    // publish.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new org.apache.hadoop.fs.Path(root, f"manifest/v$sv%05d.txt")
    val out = fs.create(mf, false)
    out.write("data/v1".getBytes("UTF-8")); out.close()
    val ex = intercept[IllegalArgumentException] {
      SinkOps.publishStaged(spark, path, sv)
    }
    // The head check catches the same-number race before the rename
    // (the racing manifest made v<sv> the head, so v > head fails);
    // the rename-to-existing refusal remains the last-resort defense.
    assert(ex.getMessage.contains("stale staged"), ex.getMessage)
    // The staged snapshot survived the refused publish: rollback (or a
    // re-stage under a fresh number) remains possible.
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      f"staging/v$sv%05d.txt")), "staged manifest lost on conflict")
    assert(SinkOps.readStaged(spark, path, sv)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
  }

  test("ivm appends are idempotent under at-least-once delivery: " +
      "re-applying a batch body with the same batchId leaves the view " +
      "bit-identical, and the streamed view still equals the one-shot " +
      "join") {
    import graft.ops.JoinOps
    val o = Tables.orders(spark, sfDir).limit(400).localCheckpoint(true)
    val li = Tables.lineitem(spark, sfDir).limit(2000)
      .localCheckpoint(true)
    val bd = lit("1997-01-01").cast("date")
    val lb = li.filter(col("l_shipdate").cast("date") < bd)
    val ld = li.filter(col("l_shipdate").cast("date") >= bd)
    val view = tmp("r11_ivm_idem")
    JoinOps.writeJoinView(o, lb, s"$view/batch=base")
    graft.streaming.StreamOps.ivmBatchAppend(o, view, 0L, ld)
    val once = graft.streaming.StreamOps.readIvmView(spark, view)
      .collect().map(_.toString).sorted
    // Simulated retry: the SAME batch id delivered again.
    graft.streaming.StreamOps.ivmBatchAppend(o, view, 0L, ld)
    val twice = graft.streaming.StreamOps.readIvmView(spark, view)
      .collect().map(_.toString).sorted
    assert(twice.sameElements(once),
      "retried batch changed the view — append not idempotent")
    val full = JoinOps.joinViewRows(o, li).collect()
      .map(_.toString).sorted
    assert(twice.sameElements(full),
      "idempotent view diverges from the one-shot join")
  }

  test("streaming merge ingest: one DV commit per batch, a re-upserted " +
      "key reads as the LATER batch's row, intermediate versions stay " +
      "pinned time-travel reads") {
    import spark.implicits._
    val base = Seq((1L, "o", 1L), (2L, "o", 1L), (4L, "o", 1L))
      .toDF("id", "s", "bseq").drop("bseq")
    val batches = Seq((2L, "b1", 1L), (4L, "b1", 1L),
      (4L, "b2", 2L), (9L, "b2", 2L)).toDF("id", "s", "bseq")
    val tbl = tmp("r11_smrg_tbl")
    val head = graft.streaming.StreamOps.mergeStreamReplay(
      base, batches, tbl, tmp("r11_smrg_stage"), "id", Seq(2L))
    val got = head.select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(Array((1L, "o"), (2L, "b1"), (4L, "b2"),
      (9L, "b2"))), s"fold wrong: ${got.mkString(",")}")
    // v2 = after batch 1 only: key 4 still reads b1, no key 9 yet.
    val v2 = SinkOps.readVersion(spark, tbl, Some(2))
      .select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(v2.sameElements(Array((1L, "o"), (2L, "b1"), (4L, "b1"))),
      s"pinned mid-stream version wrong: ${v2.mkString(",")}")
  }

  test("versionHistory reads the growth timeline from metadata alone, " +
      "reports DV commits as pre-delete totals with the sidecar count " +
      "alongside, and refuses stats-less dirs") {
    import spark.implicits._
    val path = tmp("r11_vh")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.commitVersion(Seq((5L, "c")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
    val h = SinkOps.versionHistory(spark, path)
      .orderBy("version").collect()
    assert(h.length == 3)
    assert(h(0).getLong(3) == 2L && h(0).getLong(4) == 1L &&
      h(0).getLong(5) == 2L && h(0).getInt(6) == 0)
    assert(h(1).getLong(3) == 3L && h(1).getLong(5) == 5L)
    // v3 = delete commit: pre-delete row total + one sidecar reported.
    assert(h(2).getLong(3) == 3L && h(2).getInt(6) == 1)
    val path2 = tmp("r11_vh_nostats")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path2)
    intercept[IllegalArgumentException] {
      SinkOps.versionHistory(spark, path2)
    }
  }

  test("classifyChanges splits a merge's post-images into insert vs " +
      "update by probing the prior snapshot, and appends classify as " +
      "inserts") {
    import spark.implicits._
    val path = tmp("r11_cfc")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), path)
    val v2 = SinkOps.mergeVersion(
      Seq((2L, "B"), (9L, "i")).toDF("id", "s"), path, "id")
    val got = SinkOps.classifyChanges(spark, path, 1, v2, "id")
      .select("id", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(Array((2L, "update"), (9L, "insert"))),
      s"wrong attribution: ${got.mkString(",")}")
    // A plain append window: everything is an insert.
    val v3 = SinkOps.commitVersion(Seq((7L, "g")).toDF("id", "s"), path)
    val app = SinkOps.classifyChanges(spark, path, v2, v3, "id")
      .select("id", "change_type").head()
    assert(app.getLong(0) == 7L && app.getString(1) == "insert")
  }

  test("composed zone-map x bloom planning is the intersection of the " +
      "single-index prunes and never exceeds either; the read equals " +
      "the full-scan conjunction") {
    val e = Tables.events(spark, sfDir).limit(4000)
    val path = tmp("r11_skip2")
    (0 to 2).foreach { r =>
      SinkOps.commitVersion(
        e.filter(col("event_id") % 3 === r)
          .repartitionByRange(4, col("event_id")),
        path,
        SinkOps.CommitSpec(stats = Seq("event_id"),
          blooms = Seq("user_id"))); ()
    }
    val b = e.agg(min("user_id"), min("event_id"), max("event_id")).head()
    val (user, lo) = (b.getLong(0), b.getLong(1))
    val hi = (b.getLong(1) + b.getLong(2)) / 2
    val range = LongRange("event_id", lo, hi)
    val point = LongIn("user_id", Seq(user))
    val rPlan = SinkOps.planVersionWhere(spark, path, Seq(range))
    val (rf, total) = (rPlan.files, rPlan.filesListed)
    val ef = SinkOps.planVersionWhere(spark, path, Seq(point)).files
    val composed = rf.toSet.intersect(ef.toSet)
    assert(composed.size <= math.min(rf.size, ef.size))
    assert(composed.size < total,
      s"composed prune planned all $total files")
    // The composed plan IS the intersection of the single prunes.
    assert(SinkOps.planVersionWhere(spark, path, Seq(range, point))
      .files.toSet == composed)
    val got = SinkOps.readVersionWhere(spark, path, Seq(range, point))
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = SinkOps.readVersion(spark, path)
      .filter(col("event_id").between(lo, hi) && col("user_id") === user)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want),
      "composed skip diverges from full-scan conjunction")
  }

  test("statsOnlyAgg answers count/min/max from sidecars alone, and " +
      "fails loudly on a dir without stats or a DV manifest") {
    import spark.implicits._
    val e = Tables.events(spark, sfDir).limit(2500)
    val path = tmp("r11_statsonly")
    (0 to 1).foreach { r =>
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === r),
        path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
    }
    val got = SinkOps.statsOnlyAgg(spark, path).head()
    val want = e.agg(count(lit(1)), min("event_id"), max("event_id"))
      .head()
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    assert(got.getLong(2) == want.getLong(2))
    assert(got.getLong(3) >= 2L) // at least one file per dir
    // A stats-less commit breaks the metadata-only contract loudly.
    SinkOps.commitVersion(e.limit(10), path)
    val ex = intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, path)
    }
    assert(ex.getMessage.contains("no stats sidecar"))
    // DV manifests refuse too (sidecar keys subtract unknown counts).
    val path2 = tmp("r11_statsonly_dv")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path2,
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.deleteVersionKeys(Seq(1L).toDF("id"), path2, "id")
    val ex2 = intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, path2)
    }
    assert(ex2.getMessage.contains("deletion vectors"))
  }

  test("changefeed-with-retractions: the merge-absorbed aggregate view " +
      "equals a from-scratch recompute of the post-merge snapshot, " +
      "row-for-row, with the delta sourced from the table's manifests") {
    import graft.ops.AggOps
    val e = Tables.events(spark, sfDir).limit(2000)
    val path = tmp("r11_cfr")
    SinkOps.commitVersion(e, path)
    val v1state = AggOps.aggState(
      SinkOps.readVersion(spark, path, Some(1)), "event_type", "value")
    val batch = e.filter(col("event_id") % 5 === 0)
      .withColumn("event_type", lit("updated"))
      .withColumn("value", col("value") + lit(1000.0d))
      .unionByName(e.filter(col("event_id") % 3 === 0)
        .withColumn("event_id", col("event_id") + lit(900000L))
        .withColumn("event_type", lit("inserted")))
    val v2 = SinkOps.mergeVersion(batch, path, "event_id")
    val added = SinkOps.readChanges(spark, path, 1, v2)
    val touched = SinkOps.readDeletedKeys(spark, path, 1, v2)
    val preImage = SinkOps.readVersion(spark, path, Some(1))
      .join(broadcast(touched), Seq("event_id"), "left_semi")
    val incr = AggOps.retractAggStates(
      AggOps.mergeAggStates(v1state,
        AggOps.aggState(added, "event_type", "value"), "event_type"),
      AggOps.aggState(preImage, "event_type", "value"), "event_type")
    val full = AggOps.retractAggStates(
      AggOps.aggState(SinkOps.readVersion(spark, path, Some(v2)),
        "event_type", "value"),
      AggOps.aggState(SinkOps.readVersion(spark, path, Some(v2))
        .limit(0), "event_type", "value"),
      "event_type")
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty,
      "incremental merge-absorbed view diverges from full recompute")
  }
}
