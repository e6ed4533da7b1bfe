package graft

import org.apache.spark.sql.functions._
import graft.ops.JoinOps

/** Specs for the round-10 additions: incremental join-view maintenance,
  * the hybrid hot/cold skew join, and the per-file provenance audit.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"), name).getPath

  // ---- ivmJoinRefresh ----

  test("ivmJoinRefresh reproduces the full join ROW-FOR-ROW, not just " +
      "in aggregate") {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val bd = lit("1997-01-01").cast("date")
    val (ob, od) = (o.filter(col("o_orderdate").cast("date") < bd),
      o.filter(col("o_orderdate").cast("date") >= bd))
    val (lb, ld) = (li.filter(col("l_shipdate").cast("date") < bd),
      li.filter(col("l_shipdate").cast("date") >= bd))
    val path = tmp("graft_spec_ivm")
    JoinOps.writeJoinView(ob, lb, path)
    val incr = JoinOps.ivmJoinRefresh(ob, od, lb, ld, path)
    val full = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_returnflag"), col("l_quantity"), col("o_totalprice"))
    // (orderkey, linenumber) is the view's primary key — multiset
    // equality via both anti-joins plus a count tie.
    assert(incr.count() === full.count())
    assert(incr.join(full, Seq("o_orderkey", "l_linenumber"),
      "left_anti").count() === 0L)
    assert(full.join(incr, Seq("o_orderkey", "l_linenumber"),
      "left_anti").count() === 0L)
  }

  test("ivmJoinRefresh delta terms are disjoint: each joined row comes " +
      "from exactly one of base-view / ΔO⋈L_b / O_b⋈ΔL / ΔO⋈ΔL") {
    // 2 orders × 2 lineitems, one of each per side of the boundary —
    // all four quadrants populated; a double-counted term breaks the
    // primary-key uniqueness.
    val o = Seq((1L, 10L, "1996-05-01"), (2L, 20L, "1998-05-01"))
      .toDF("o_orderkey", "o_custkey", "dt")
      .select(col("o_orderkey"), col("o_custkey"),
        col("dt").cast("timestamp").as("o_orderdate"),
        lit(1.0).as("o_totalprice"))
    val li = Seq((1L, 1, "1996-06-01"), (1L, 2, "1998-06-01"),
        (2L, 1, "1996-07-01"), (2L, 2, "1998-07-01"))
      .toDF("l_orderkey", "l_linenumber", "dt")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("dt").cast("timestamp").as("l_shipdate"),
        lit("N").as("l_returnflag"), lit(1.0).as("l_quantity"))
    val bd = lit("1997-01-01").cast("date")
    val (ob, od) = (o.filter(col("o_orderdate").cast("date") < bd),
      o.filter(col("o_orderdate").cast("date") >= bd))
    val (lb, ld) = (li.filter(col("l_shipdate").cast("date") < bd),
      li.filter(col("l_shipdate").cast("date") >= bd))
    val path = tmp("graft_spec_ivm_quad")
    JoinOps.writeJoinView(ob, lb, path)
    val got = JoinOps.ivmJoinRefresh(ob, od, lb, ld, path)
    assert(got.count() === 4L)
    assert(got.select("o_orderkey", "l_linenumber").distinct()
      .count() === 4L)
  }

  // ---- hotColdJoin ----

  test("hotColdJoin equals the plain join and routes the skew mass " +
      "through the broadcast path, the tail through the shuffle join") {
    val fact = Tables.lineitem(spark, sfDir)
      .withColumn("jk", least(col("l_partkey"), lit(25L)))
    val dim = Tables.part(spark, sfDir)
    val hybrid = JoinOps.hotColdJoin(fact, dim, "jk", "p_partkey")
    val plain = fact.join(dim, col("jk") === col("p_partkey"))
    assert(hybrid.count() === plain.count())
    val key = Seq("jk", "l_orderkey", "l_linenumber")
    assert(hybrid.select(key.map(col): _*).except(
      plain.select(key.map(col): _*)).count() === 0L)
    // Plan shape: one broadcast-hash side (hot) AND one sort-merge side
    // (cold) — the hybrid's whole point.
    val plan = hybrid.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("SortMergeJoin"))
  }

  test("hotColdJoin hot set is the ≥1/hotDen share keys only") {
    val fact = Seq.fill(90)((1L, "x")).++(Seq((2L, "y"), (3L, "z")))
      .toDF("k", "v")
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("dk", "name")
    val got = JoinOps.hotColdJoin(fact, dim, "k", "dk", hotDen = 10L)
    // 92 fact rows, key 1 carries 90 ≥ 92/10 — hot; 2 and 3 cold but
    // still joined; dim key 4 matches nothing.
    assert(got.count() === 92L)
    assert(got.filter(col("k") === 1L).count() === 90L)
  }

  // ---- ivmReplay (streaming IVM) ----

  test("ivmReplay streamed view maintenance equals the one-shot join " +
      "row-for-row") {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val bd = lit("1997-01-01").cast("date")
    val lb = li.filter(col("l_shipdate").cast("date") < bd)
    val ld = li.filter(col("l_shipdate").cast("date") >= bd)
    val b = ld.agg(min("l_orderkey"), max("l_orderkey")).head()
    val got = graft.streaming.StreamOps.ivmReplay(o, lb, ld,
      tmp("graft_spec_sivm_view"), tmp("graft_spec_sivm_stage"),
      Seq((b.getLong(0) + b.getLong(1)) / 2))
    val full = o.join(li, col("o_orderkey") === col("l_orderkey"))
    assert(got.count() === full.count())
    assert(got.join(full, Seq("o_orderkey", "l_linenumber"), "left_anti")
      .count() === 0L)
    assert(full.select("o_orderkey", "l_linenumber")
      .join(got, Seq("o_orderkey", "l_linenumber"), "left_anti")
      .count() === 0L)
  }

  // ---- commitVersion / readVersion (time travel) ----

  test("versioned table: pinned readers are isolated from later " +
      "commits, latest follows, missing versions fail loudly") {
    val path = tmp("graft_spec_tt")
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(root, true)
    val s1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val s2 = Seq((3L, "c")).toDF("k", "v")
    assert(graft.ops.SinkOps.commitVersion(s1, path) === 1)
    val v1Pinned = graft.ops.SinkOps.readVersion(spark, path, Some(1))
    assert(v1Pinned.count() === 2L)
    assert(graft.ops.SinkOps.commitVersion(s2, path) === 2)
    // The pinned v1 reader still sees the v1 snapshot, not the append.
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(1))
      .count() === 2L)
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(2))
      .count() === 3L)
    // Latest = v2; its rows are exactly s1 ∪ s2.
    val latest = graft.ops.SinkOps.readVersion(spark, path)
    assert(latest.select("k").as[Long].collect().sorted ===
      Array(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      graft.ops.SinkOps.readVersion(spark, path, Some(3)).count()
    }
    ()
  }

  // ---- compactVersions / versionedSinkReplay ----

  test("compactVersions rewrites the current state into one data dir " +
      "and leaves every pinned version readable") {
    val path = tmp("graft_spec_ttc")
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(root, true)
    graft.ops.SinkOps.commitVersion(Seq((1L, "a")).toDF("k", "v"), path)
    graft.ops.SinkOps.commitVersion(Seq((2L, "b")).toDF("k", "v"), path)
    val cv = graft.ops.SinkOps.compactVersions(spark, path)
    assert(cv === 3)
    val v3 = graft.ops.SinkOps.readVersion(spark, path, Some(3))
    assert(v3.count() === 2L)
    // The compacted snapshot plans from ONE data dir.
    assert(v3.inputFiles.nonEmpty)
    assert(v3.inputFiles.forall(_.contains("data/v3")))
    // History before the compaction is immutable and still readable.
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(1))
      .count() === 1L)
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(2))
      .count() === 2L)
  }

  test("versionedSinkReplay commits one queryable snapshot per " +
      "micro-batch") {
    val o = Tables.orders(spark, sfDir)
    val b = o.agg(min("o_orderkey"), max("o_orderkey")).head()
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    val path = tmp("graft_spec_ttv")
    val latest = graft.streaming.StreamOps.versionedSinkReplay(o, path,
      tmp("graft_spec_ttv_stage"), "o_orderkey", Seq(mid))
    assert(graft.ops.SinkOps.currentVersion(spark, path) === 2)
    assert(latest.count() === o.count())
    // Version 1 is exactly the first micro-batch — the stream's own
    // history is a point-in-time read.
    val v1 = graft.ops.SinkOps.readVersion(spark, path, Some(1))
    assert(v1.count() === o.filter(col("o_orderkey") < mid).count())
  }

  // ---- expireVersions / stage-publish-rollback / retractAggStates ----

  test("expireVersions is reference-counted: dirs still referenced by " +
      "surviving manifests are NOT deleted; orphans after compaction " +
      "are; expired reads fail loudly") {
    val path = tmp("graft_spec_tte")
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(root, true)
    graft.ops.SinkOps.commitVersion(Seq((1L, "a")).toDF("k", "v"), path)
    graft.ops.SinkOps.commitVersion(Seq((2L, "b")).toDF("k", "v"), path)
    // v2's manifest carries data/v1 forward — expiring v1's MANIFEST
    // must not delete the still-referenced dir.
    assert(graft.ops.SinkOps.expireVersions(spark, path, keep = 2) === 0)
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(2))
      .count() === 2L)
    intercept[IllegalArgumentException] {
      graft.ops.SinkOps.readVersion(spark, path, Some(1)).count()
    }
    // After compaction the old dirs become unreferenced → GC'd.
    val cv = graft.ops.SinkOps.compactVersions(spark, path)
    assert(graft.ops.SinkOps.expireVersions(spark, path, keep = cv) === 2)
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(cv))
      .count() === 2L)
  }

  test("staged versions are invisible until published and a rollback " +
      "leaves the table bit-identical") {
    val path = tmp("graft_spec_wap")
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(root, true)
    graft.ops.SinkOps.commitVersion(Seq((1L, "a")).toDF("k", "v"), path)
    val before = graft.ops.SinkOps.readVersion(spark, path).collect().toSet
    val sv = graft.ops.SinkOps.stageVersion(
      Seq((2L, "bad")).toDF("k", "v"), path)
    // Invisible: latest is still v1.
    assert(graft.ops.SinkOps.currentVersion(spark, path) === 1)
    assert(graft.ops.SinkOps.readVersion(spark, path).count() === 1L)
    // The auditor sees the staged snapshot (base + staged batch).
    assert(graft.ops.SinkOps.readStaged(spark, path, sv).count() === 2L)
    graft.ops.SinkOps.rollbackStaged(spark, path, sv)
    assert(graft.ops.SinkOps.readVersion(spark, path).collect().toSet
      === before)
    // Publish path: stage again and promote.
    val sv2 = graft.ops.SinkOps.stageVersion(
      Seq((3L, "good")).toDF("k", "v"), path)
    graft.ops.SinkOps.publishStaged(spark, path, sv2)
    assert(graft.ops.SinkOps.currentVersion(spark, path) === sv2)
    assert(graft.ops.SinkOps.readVersion(spark, path).count() === 2L)
  }

  test("retractAggStates subtracts exactly, drops fully-deleted keys, " +
      "and throws on over-retraction") {
    val all = Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 7.0),
      ("C", 9.0)).toDF("g", "v")
    val del = Seq(("A", 3.0), ("C", 9.0)).toDF("g", "v")
    val prev = graft.ops.AggOps.aggState(all, "g", "v")
    val dState = graft.ops.AggOps.aggState(del, "g", "v")
    val got = graft.ops.AggOps.retractAggStates(prev, dState, "g")
    // min/max are NOT in the retractable view — contract, not staleness.
    assert(!got.columns.contains("min_v") && !got.columns.contains("max_v"))
    val m = got.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m("A") === ((1L, 1.0, 1.0)))
    assert(m("B") === ((2L, 12.0, 6.0)))
    assert(!m.contains("C"))
    // Retracting more than was inserted must throw, not go negative.
    val over = graft.ops.AggOps.aggState(
      Seq(("B", 5.0), ("B", 7.0), ("B", 8.0)).toDF("g", "v"), "g", "v")
    intercept[Exception] {
      graft.ops.AggOps.retractAggStates(prev, over, "g").collect()
    }
    ()
  }

  // ---- triangleIncrement / evolve / stream as-of ----

  test("triangleIncrement categories partition the union's new " +
      "triangles exactly (closed-form graph)") {
    // Base: square 1-2-3-4 with diagonal 1-3 → triangles (1,2,3),(1,3,4).
    // Delta: edges 2-4 (two 2-delta?? no — 2-4 closes (1,2,4)? 1-2 and
    // 1-4 in base → t1; (2,3,4): 2-3,3-4 base → t1) and 5-1, 5-2
    // (wedge 5 closed by base 1-2 → t2) and 5-6,6-7,5-7 (pure delta
    // triangle → t3).
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("a", "b")
    val delta = Seq((2L, 4L), (1L, 5L), (2L, 5L), (5L, 6L), (6L, 7L),
      (5L, 7L)).toDF("a", "b")
    val path = tmp("graft_spec_tri_incr")
    graft.ops.GraphOps.writeTriangleBase(
      base.select(col("a").as("src"), col("b").as("dst")), path)
    val r = graft.ops.GraphOps.triangleIncrement(base, delta, path)
      .collect().head
    assert(r.getAs[Long]("t_base") === 2L)
    assert(r.getAs[Long]("t1") === 2L) // (1,2,4), (2,3,4) via edge 2-4
    assert(r.getAs[Long]("t2") === 1L) // (1,2,5) via delta wedge at 5
    assert(r.getAs[Long]("t3") === 1L) // (5,6,7)
    assert(r.getAs[Long]("t_total") === 6L)
    // Cross-check against a from-scratch count on the union.
    val full = graft.ops.GraphOps.triangleCounts(
      base.unionByName(delta)
        .select(col("a").as("src"), col("b").as("dst")))
      .agg(expr("sum(n_tri) div 3")).collect().head.getLong(0)
    assert(full === 6L)
  }

  test("schema evolution: merged read null-fills legacy rows and " +
      "pinned v1 keeps its original narrow schema") {
    val path = tmp("graft_spec_ttev")
    val root = new org.apache.hadoop.fs.Path(path)
    root.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(root, true)
    graft.ops.SinkOps.commitVersion(Seq((1L, "a")).toDF("k", "v"), path)
    graft.ops.SinkOps.commitVersion(
      Seq((2L, "b", 99L)).toDF("k", "v", "extra"), path)
    val merged = graft.ops.SinkOps.readVersion(spark, path,
      mergeSchema = true)
    assert(merged.columns.toSet === Set("k", "v", "extra"))
    assert(merged.filter(col("k") === 1L)
      .select("extra").collect().head.isNullAt(0))
    assert(merged.filter(col("k") === 2L)
      .select("extra").collect().head.getLong(0) === 99L)
    assert(graft.ops.SinkOps.readVersion(spark, path, Some(1))
      .columns.toSet === Set("k", "v"))
  }

  test("asofEnrichReplay equals the batch as-of join row-for-row") {
    val ev = Tables.events(spark, sfDir)
    val eu = ev.select(col("event_id"), col("user_id"),
      graft.ops.EventOps.microsOf(ev, "ts").as("tus"))
    val or = Tables.orders(spark, sfDir)
    val ou = or.select(col("o_custkey").as("user_id"), col("o_orderkey"),
      graft.ops.EventOps.microsOf(or, "o_orderdate").as("o_us"))
    val b = eu.agg(min("event_id"), max("event_id")).head()
    val streamed = graft.streaming.StreamOps.asofEnrichReplay(eu, ou,
      "user_id", "tus", "o_us", "o_orderkey",
      tmp("graft_spec_sasof"), "event_id",
      Seq((b.getLong(0) + b.getLong(1)) / 2))
    val batch = graft.ops.JoinOps.asofJoin(eu, ou, "user_id", "tus",
      "o_us", "o_orderkey")
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0L)
    assert(batch.except(streamed).count() === 0L)
  }

  // ---- phraseSearch ----

  test("phraseSearch finds contiguous runs only, counts overlapping " +
      "occurrences, and handles repeated-term phrases") {
    val docs = Seq(
      (1L, "x table value part y"),         // 1 occurrence
      (2L, "table value part table value part"), // 2 occurrences
      (3L, "table part value"),             // scattered terms, no run
      (4L, "a a a"),                        // overlapping "a a" twice
      (5L, "value part table")              // rotation, no run
    ).toDF("doc_id", "text")
    val got = graft.ops.CurationOps.phraseSearch(docs,
        Seq("table value part", "a a", "absent phrase")).collect()
      .map(r => r.getAs[String]("phrase") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ")))).toMap
    assert(got("table value part") === ((2L, 3L)))
    assert(got("a a") === ((1L, 2L)))
    assert(!got.contains("absent phrase"))
  }

  // ---- trainWriteLm / scoreWithLm ----

  test("scoreWithLm on the training slice equals in-plan lmScore with " +
      "zero OOV — the persisted artifact loses nothing") {
    val docs = Tables.documents(spark, sfDir).limit(50)
      .localCheckpoint(true)
    val path = tmp("graft_spec_lm")
    graft.ops.TextStatsOps.trainWriteLm(docs, path)
    val viaArtifact = graft.ops.TextStatsOps.scoreWithLm(docs, path)
    assert(viaArtifact.filter(col("n_oov") =!= 0L).count() === 0L)
    val inline = graft.ops.TextStatsOps.lmScore(docs)
    val key = Seq("doc_id", "n_bigrams", "lm_sum", "lm_avg_ppm")
    assert(viaArtifact.select(key.map(col): _*)
      .except(inline.select(key.map(col): _*)).count() === 0L)
    assert(viaArtifact.count() === inline.count())
  }

  test("scoreWithLm counts unseen bigrams as OOV at probability zero") {
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran"))
      .toDF("doc_id", "text")
    val path = tmp("graft_spec_lm_oov")
    graft.ops.TextStatsOps.trainWriteLm(train, path)
    // "the cat" seen (p = 10^6 since both 'the' bigrams start 'the cat'
    // ... actually c('the cat')=2, c('the')=2 → ppm 10^6); "cat flew"
    // unseen → OOV.
    val got = graft.ops.TextStatsOps.scoreWithLm(
      Seq((9L, "the cat flew")).toDF("doc_id", "text"), path).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("n_bigrams") === 2L)
    assert(r.getAs[Long]("n_oov") === 1L)
    assert(r.getAs[Long]("lm_sum") === 1000000L)
    assert(r.getAs[Long]("lm_avg_ppm") === 500000L)
  }

  // ---- fitWriteScaler / applyScaler ----

  test("applyScaler scales into [0, 10^6], clamps out-of-range " +
      "arrivals, and reports them") {
    val fit = Seq((1L, Array(0.0f, 10.0f)), (2L, Array(1.0f, 20.0f)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_spec_scaler")
    graft.ops.SimilarityOps.fitWriteScaler(fit, path)
    // dim0 range [0, 1e6] (quantized), dim1 [1e7, 2e7].
    // Arrival (0.5, 30.0): dim0 mid-range → 500000, dim1 above max →
    // clamped to max → 10^6.
    val got = graft.ops.SimilarityOps.applyScaler(
      Seq((9L, Array(0.5f, 30.0f))).toDF("vec_id", "embedding"), path)
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("n_dims") === 2L)
    assert(r.getAs[Long]("min_scaled") === 500000L)
    assert(r.getAs[Long]("max_scaled") === 1000000L)
    assert(r.getAs[Long]("n_clamped") === 1L)
  }

  test("applyScaler on the fitted slice itself never clamps and spans " +
      "the full [0, 10^6] range per dimension") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = tmp("graft_spec_scaler_self")
    graft.ops.SimilarityOps.fitWriteScaler(emb, path)
    val got = graft.ops.SimilarityOps.applyScaler(emb, path)
    assert(got.filter(col("n_clamped") =!= 0L).count() === 0L)
    val r = got.agg(min("min_scaled"), max("max_scaled")).collect().head
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 1000000L)
  }

  // ---- codeDetect ----

  test("codeDetect separates a code-shaped document from prose with " +
      "exact counters") {
    val docs = Seq(
      (1L, "plain english prose with no markers at all"),
      (2L, "def f(x) {\n    return x[0] + y;\n    if (z) { w = 1; }\n}"),
      (3L, "fenced\n```\ncode here\n```")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextStatsOps.codeDetect(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("verdict") === "prose")
    assert(got(1L).getAs[Long]("n_sym") === 0L)
    assert(got(2L).getAs[String]("verdict") === "code")
    assert(got(2L).getAs[Long]("n_indent") === 2L)
    assert(got(2L).getAs[Long]("n_lines") === 4L)
    assert(got(3L).getAs[String]("verdict") === "code")
    assert(got(3L).getAs[Long]("n_fences") === 2L)
  }

  // ---- provenanceAudit ----

  test("provenanceAudit accounts for every row by source path with " +
      "zero path/column mismatches") {
    val docs = Tables.documents(spark, sfDir)
    val got = graft.ops.SinkOps.provenanceAudit(docs,
      tmp("graft_spec_prov"))
    val rows = got.collect()
    assert(rows.length === 8)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(rows.forall(_.getAs[Long]("n_path_mismatch") === 0L))
    // Shards are doc_id mod 8 — every shard value present and the id
    // range consistent with the residue class.
    assert(rows.map(_.getAs[Long]("shard")).sorted === (0L to 7L))
    rows.foreach { r =>
      assert(r.getAs[Long]("min_doc_id") % 8 === r.getAs[Long]("shard"))
      assert(r.getAs[Long]("max_doc_id") % 8 === r.getAs[Long]("shard"))
    }
  }

  // ---- shardBalance ----

  test("shardBalance matches a driver-side serpentine-LPT replica and " +
      "balances within one document") {
    val sizes = Seq(13, 11, 7, 5, 3, 2, 2, 1, 9, 8, 6, 4, 10, 12, 1, 2,
      5, 5, 5, 5)
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong + 1L, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val got = graft.ops.CurationOps.shardBalance(docs)
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tok"))).toMap
    // Replica: rank by (n_tok desc, doc_id asc), serpentine deal.
    val ranked = sizes.zipWithIndex
      .map { case (n, i) => (n.toLong, i.toLong + 1L) }
      .sortBy { case (n, id) => (-n, id) }.zipWithIndex
    val want = ranked.groupBy { case (_, rk) =>
      val (pass, pos) = (rk / 8, rk % 8L)
      if (pass % 2 == 0) pos else 7L - pos
    }.map { case (s, xs) =>
      s -> (xs.size.toLong, xs.map(_._1._1).sum)
    }
    assert(got === want)
    val loads = got.values.map(_._2)
    assert(loads.max - loads.min <= sizes.max.toLong)
  }

  test("shardBalance on the fixture covers all 8 shards and conserves " +
      "the token total") {
    val docs = Tables.documents(spark, sfDir)
    val rows = graft.ops.CurationOps.shardBalance(docs).collect()
    assert(rows.map(_.getAs[Long]("shard")).sorted === (0L to 7L))
    val totalTok = rows.map(_.getAs[Long]("sum_tok")).sum
    val loads = rows.map(_.getAs[Long]("sum_tok"))
    val maxDoc = rows.map(_.getAs[Long]("max_tok")).max
    assert(loads.max - loads.min <= maxDoc,
      s"imbalance ${loads.max - loads.min} exceeds one max doc $maxDoc")
    rows.foreach { r =>
      assert(r.getAs[Long]("bal_ppm") ===
        r.getAs[Long]("sum_tok") * 8L * 1000000L / totalTok)
    }
  }

  // ---- spanMask ----

  test("spanMask reproduces a JVM md5-hash replica decision-for-decision") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val nTok = 40
    val docs = (1L to 5L).map(id =>
      (id, (0 until nTok).map(t => s"t$t").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.CurationOps.spanMask(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    (1L to 5L).foreach { id =>
      val starts = (0 until nTok).filter(t => h60(s"$id:$t") % 100 < 15)
      val masked = (0 until nTok).count(t =>
        starts.exists(s => s <= t && t < s + 3))
      assert(got(id).getAs[Long]("n_spans") === starts.size.toLong)
      assert(got(id).getAs[Long]("n_masked") === masked.toLong)
      assert(got(id).getAs[Long]("mask_ppm") ===
        masked.toLong * 1000000L / nTok)
    }
  }

  // ---- embedDecontam ----

  test("embedDecontam flags exactly the planted leaked vectors and " +
      "points each at its benchmark twin") {
    val emb = Tables.embeddings(spark, sfDir)
    val train = emb.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 7 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")))
    val got = graft.ops.SimilarityOps.embedDecontam(train, bench)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    val planted = emb
      .filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 7 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    // Every planted leak is flagged (exact copies collide in every
    // LSH table — recall 1.0 at cos = 1.0).
    assert(planted.subsetOf(got.keySet))
    planted.foreach { v =>
      assert(got(v).getAs[Long]("n_bench_hits") >= 1L)
      assert(got(v).getAs[Long]("first_bench_id") === v + 2000000L)
    }
  }

  // ---- imageIndexIngestReplay ----

  test("imageIndexIngestReplay: zero batch-2 admissions — every exact " +
      "twin of a batch-1 admit is caught by the in-stream append") {
    import graft.ops.MultimodalOps
    val base = Tables.documents(spark, sfDir).filter(col("doc_id") < 64)
    val idx = tmp("graft_spec_imgidx_stream")
    val staging = tmp("graft_spec_imgidx_stage")
    MultimodalOps.writeImageIndex(
      MultimodalOps.imageAHash(base).select("asset_id", "ahash"), idx)
    val evens = base.filter(col("doc_id") % 2 === 0)
    val odds = base.filter(col("doc_id") % 2 === 1)
    val arrivals = MultimodalOps.imageAHashShifted(evens, 1000000L, 0)
      .unionByName(MultimodalOps.imageAHashShifted(odds, 1500000L, 128))
      .unionByName(MultimodalOps.imageAHashShifted(odds, 2000000L, 128))
      .select("asset_id", "ahash")
    val got = graft.streaming.StreamOps
      .imageIndexIngestReplay(arrivals, idx, staging, Seq(2000000L))
      .collect()
    val b1Exact = got.filter(r => r.getAs[Long]("asset_id") >= 1000000L &&
      r.getAs[Long]("asset_id") < 1500000L)
    val b1Far = got.filter(r => r.getAs[Long]("asset_id") >= 1500000L &&
      r.getAs[Long]("asset_id") < 2000000L)
    val b2 = got.filter(_.getAs[Long]("asset_id") >= 2000000L)
    assert(b1Exact.nonEmpty && b1Far.nonEmpty && b2.nonEmpty)
    // Exact twins of indexed bases are all rejected.
    assert(b1Exact.forall(_.getAs[Long]("kept") === 0L))
    // Some far variants are genuinely new and get admitted + appended.
    assert(b1Far.exists(_.getAs[Long]("kept") === 1L))
    // Batch 2 = exact fingerprint twins of batch 1's far variants:
    // zero admissions possible only if the in-stream append ran.
    assert(b2.forall(_.getAs[Long]("kept") === 0L))
  }

  // ---- audio dedup ----

  test("audio energy-delta fingerprint is volume-invariant: every " +
      "half-volume twin collides with its original") {
    import graft.ops.MultimodalOps
    val base = Tables.documents(spark, sfDir).filter(col("doc_id") < 256)
    val full = MultimodalOps.audioFingerprints(base, 0L, 1)
      .collect().map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_frames4"),
          r.getAs[Long]("fp"), r.getAs[Long]("fp4"))).toMap
    val half = MultimodalOps.audioFingerprints(base, 0L, 2)
      .collect().map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_frames4"),
          r.getAs[Long]("fp"), r.getAs[Long]("fp4"))).toMap
    assert(full.keySet === half.keySet)
    full.foreach { case (id, sig) =>
      assert(half(id) === sig, s"asset $id fingerprint not volume-invariant")
    }
    // And the pair query surfaces every planted twin.
    val pairs = MultimodalOps.audioDedupPairs(
      MultimodalOps.audioFingerprints(base, 0L, 1)
        .unionByName(MultimodalOps.audioFingerprints(base, 1000000L, 2)))
      .collect()
    val twins = pairs.count(r =>
      r.getAs[Long]("asset_b") - r.getAs[Long]("asset_a") == 1000000L)
    assert(twins === full.size)
    // The two-band key leaves ZERO accidental (non-twin) pairs on this
    // fixture — the short-clip pigeonhole fix (the coarse band alone
    // admitted 172 unrelated base-base collisions).
    assert(pairs.length === twins,
      s"${pairs.length - twins} accidental non-twin pairs")
  }

  // ---- canonicalIngestReplay ----

  test("canonicalIngestReplay: batch-2 twins are judged against the " +
      "IN-STREAM-updated ledger and cluster map") {
    import graft.ops.DedupOps
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fresh = "one two three four five six seven eight nine ten"
    val known = Seq((1L, base)).toDF("doc_id", "text")
    val idx = tmp("graft_spec_canonstream")
    val staging = tmp("graft_spec_canonstream_stage")
    DedupOps.writeMinhashIndex(known, idx)
    DedupOps.writeMinhashClusterMap(known, idx)
    DedupOps.writeCanonicalLedger(known, idx)
    val arrivals = Seq(
      (100L, base + " mu nu"),   // batch 1: 12 tok > 10 → dethrones
      (150L, fresh),             // batch 1: new_cluster
      (200L, base + " mu nu"),   // batch 2: twin of 100 — vs UPDATED
                                 // ledger: tie at 12, id 200 > 100 →
                                 // kept_existing (stale ledger would
                                 // say dethrones vs canon 1)
      (250L, fresh))             // batch 2: twin of 150 — caught only
                                 // via the in-stream map append
      .toDF("doc_id", "text")
    val got = graft.streaming.StreamOps
      .canonicalIngestReplay(arrivals, idx, staging, Seq(200L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(100L).getAs[String]("verdict") === "dethrones")
    assert(got(100L).getAs[Long]("new_canon_id") === 100L)
    assert(got(150L).getAs[String]("verdict") === "new_cluster")
    assert(got(200L).getAs[String]("verdict") === "kept_existing")
    assert(got(200L).getAs[Long]("new_canon_id") === 100L)
    assert(got(250L).getAs[String]("verdict") === "kept_existing")
    assert(got(250L).getAs[Long]("new_canon_id") === 150L)
    assert(got(250L).getAs[Long]("cluster") === 150L)
    // The persisted ledger after the run carries the updated incumbents.
    val led = graft.ops.SinkOps.readVersion(spark, idx + "/canonicals")
      .collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("canon_id")).toMap
    assert(led(1L) === 100L)
    assert(led(150L) === 150L)
  }

  // ---- truncDimRecall ----

  test("truncDimRecall is exactly 1.0 when all information lives in " +
      "the prefix dims, and bounded on the fixture") {
    // 64-dim vectors whose dims 16..63 are all zero: the 16-dim prefix
    // ranking must equal the full ranking query-for-query.
    val emb = (0L until 20L).map { i =>
      (i, (0 until 64).map { j =>
        if (j < 16) (((i * 7 + j * 3) % 13).toFloat - 6f) / 8f else 0f
      }.toArray)
    }.toDF("vec_id", "embedding")
    val got = graft.ops.SimilarityOps.truncDimRecall(emb).collect()
    assert(got.length === 5)
    got.foreach(r => assert(r.getAs[Long]("recall_ppm") === 1000000L,
      s"query ${r.getAs[Long]("q_id")} lost prefix-complete recall"))
    val fx = graft.ops.SimilarityOps
      .truncDimRecall(Tables.embeddings(spark, sfDir)).collect()
    assert(fx.length === 5)
    fx.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 10L)
      assert(r.getAs[Long]("recall_ppm") === h * 100000L)
    }
  }

  // ---- mixApportion ----

  test("mixApportion sums exactly to the budget and matches a " +
      "driver-side Hamilton replica") {
    val docs = Tables.documents(spark, sfDir)
    val rows = graft.ops.CurationOps.mixApportion(docs).collect()
    val counts = docs.filter(col("lang").isNotNull)
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val budget = counts.values.sum / 2
    assert(rows.map(_.getAs[Long]("alloc_docs")).sum === budget)
    // Hamilton replica.
    def isqrt(n: Long): Long = {
      val f = math.sqrt(n.toDouble).toLong
      if ((f + 1) * (f + 1) <= n) f + 1 else if (f * f > n) f - 1 else f
    }
    val w = counts.map { case (l, n) => l -> isqrt(n) }
    val totW = w.values.sum
    val base = w.map { case (l, ws) => l -> budget * ws / totW }
    val nExtra = budget - base.values.sum
    val extras = w.toSeq
      .map { case (l, ws) => (l, budget * ws % totW) }
      .sortBy { case (l, r) => (-r, l) }.take(nExtra.toInt).map(_._1).toSet
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      assert(r.getAs[Long]("alloc_base") === base(l))
      assert(r.getAs[Long]("extra") === (if (extras(l)) 1L else 0L))
      assert(r.getAs[Long]("alloc_docs") ===
        base(l) + (if (extras(l)) 1L else 0L))
    }
  }

  // ---- imageCanonical ----

  test("imageCanonical keeps the highest-resolution member, ties to " +
      "the smallest asset id") {
    val h0 = "0110" * 16
    val h1 = "1" + h0.drop(1)         // 1 bit from h0: near-dup
    val hx = "1010" * 16              // 32 bits away: unrelated
    val fps = Seq(
      (1L, 4L, 4L, h0),               // 16 px
      (2L, 8L, 8L, h1),               // 64 px — should win cluster {1,2}
      (3L, 5L, 5L, hx),               // tie on px with 4 → min id wins
      (4L, 5L, 5L, hx),
      (9L, 6L, 6L, "0011" * 16))      // singleton: no cluster row
      .toDF("asset_id", "w", "h", "ahash")
    val got = graft.ops.MultimodalOps.imageCanonical(fps).collect()
      .map(r => r.getAs[Long]("cluster") -> r).toMap
    assert(got.keySet === Set(1L, 3L))
    assert(got(1L).getAs[Long]("canon_id") === 2L)
    assert(got(1L).getAs[Long]("px_kept") === 64L)
    assert(got(1L).getAs[Long]("n_assets") === 2L)
    assert(got(3L).getAs[Long]("canon_id") === 3L)
    assert(got(3L).getAs[Long]("px_kept") === 25L)
  }

  // ---- canonicalIncremental ----

  test("canonicalIncremental: longer near-dup dethrones, exact twin " +
      "keeps the incumbent, unrelated text opens a new cluster") {
    import graft.ops.DedupOps
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val known = Seq(
      (1L, base), (2L, base.split(" ").dropRight(1).mkString(" ")),
      (7L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val idx = tmp("graft_spec_canon_incr")
    DedupOps.writeMinhashIndex(known, idx)
    DedupOps.writeMinhashClusterMap(known, idx)
    DedupOps.writeCanonicalLedger(known, idx)
    val arrivals = Seq(
      (100L, base + " lambda"),                     // 11 tok > canon's 10
      (101L, base),                                 // tie at 10, id 101 > 1
      (102L, "the quick brown fox jumps over a lazy dog today"))
      .toDF("doc_id", "text")
    val got = DedupOps.canonicalIncremental(arrivals, idx).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(100L).getAs[String]("verdict") === "dethrones")
    assert(got(100L).getAs[Long]("cluster") === 1L)
    assert(got(100L).getAs[Long]("new_canon_id") === 100L)
    assert(got(101L).getAs[String]("verdict") === "kept_existing")
    assert(got(101L).getAs[Long]("new_canon_id") === 1L)
    assert(got(102L).getAs[String]("verdict") === "new_cluster")
    assert(got(102L).getAs[Long]("cluster") === 102L)
    assert(got(102L).getAs[Long]("new_canon_id") === 102L)
  }

  test("canonicalIncremental: a singleton known is its own ledger row " +
      "and an exact twin of it keeps it") {
    import graft.ops.DedupOps
    val known = Seq(
      (7L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val idx = tmp("graft_spec_canon_single")
    DedupOps.writeMinhashIndex(known, idx)
    DedupOps.writeMinhashClusterMap(known, idx)
    DedupOps.writeCanonicalLedger(known, idx)
    val arrivals = Seq(
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val got = DedupOps.canonicalIncremental(arrivals, idx).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("cluster") === 7L)
    assert(got(0).getAs[String]("verdict") === "kept_existing")
    assert(got(0).getAs[Long]("new_canon_id") === 7L)
  }

  // ---- curateFunnel ----

  test("curateFunnel ladder is monotone and its last stage equals " +
      "curate's survivors exactly") {
    val docs = Tables.documents(spark, sfDir)
    val rows = graft.ops.PipelineOps.curateFunnel(docs).collect()
      .sortBy(_.getAs[String]("stage"))
    assert(rows.map(_.getAs[String]("stage")).toSeq === Seq("00_input",
      "01_scored", "02_lang", "03_quality", "04_repetition", "05_dedup",
      "06_sample"))
    val counts = rows.map(_.getAs[Long]("n_docs"))
    val chars = rows.map(_.getAs[Long]("n_chars"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(chars.zip(chars.tail).forall { case (a, b) => a >= b })
    val survivors = graft.ops.PipelineOps.curate(docs)
    assert(counts.last === survivors.count())
    assert(chars.last === survivors.agg(sum("n_chars_kept"))
      .collect()(0).getLong(0))
  }

  // ---- fertilityByLang ----

  test("fertilityByLang rolls up tokenizeTrained exactly; fertility " +
      "is at least one token per word") {
    val docs = Tables.documents(spark, sfDir)
    val merges = 4
    val perDoc = graft.ops.BpeOps.tokenizeTrained(docs, merges)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(sum("n_words").as("w"), sum("n_tokens").as("t"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("w"), r.getAs[Long]("t"))).toMap
    val got = graft.ops.BpeOps.fertilityByLang(docs, merges).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (w, t) = perDoc(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_words") === w)
      assert(r.getAs[Long]("n_tokens") === t)
      assert(r.getAs[Long]("fertility_ppm") === t * 1000000L / w)
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L)
    }
  }

  // ---- dedupCanonical ----

  test("dedupCanonical keeps the most-token member, ties to the " +
      "smallest id") {
    // 1 and 2 near-dup (2 drops the last word → fewer tokens): canon 1.
    // 10 and 11 are EXACT twins (equal tokens): tie → canon 10.
    // 99 unrelated: no cluster row (singleton contract).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base.split(" ").dropRight(1).mkString(" ")),
      (10L, "one two three four five six seven eight nine ten"),
      (11L, "one two three four five six seven eight nine ten"),
      (99L, "the quick brown fox jumps over the lazy dog now"))
      .toDF("doc_id", "text")
    val got = graft.ops.DedupOps.dedupCanonical(docs).collect()
      .map(r => r.getAs[Long]("cluster") -> r).toMap
    assert(got.keySet === Set(1L, 10L))
    assert(got(1L).getAs[Long]("canon_id") === 1L)
    assert(got(1L).getAs[Long]("n_docs") === 2L)
    assert(got(1L).getAs[Long]("tok_kept") === 10L)
    assert(got(1L).getAs[Long]("tok_dropped") === 9L)
    assert(got(10L).getAs[Long]("canon_id") === 10L)
    assert(got(10L).getAs[Long]("tok_kept") === 10L)
    assert(got(10L).getAs[Long]("tok_dropped") === 10L)
  }
}
