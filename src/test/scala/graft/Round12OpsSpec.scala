package graft

import org.apache.spark.sql.functions._
import graft.ops.SinkOps
import graft.ops.SinkOps.SkipPred._

/** Specs for the round-12 additions: DV-aware file skipping (zone-map
  * and bloom planning over manifests carrying unresolved deletion
  * vectors), the lakehouse SQL front door, executor-side bloom
  * sidecar folding, idempotent streaming MERGE, and multi-column zone
  * maps.
  */
class Round12OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  // ---- DV-aware zone-map / bloom file skipping ----

  test("DV-aware zone-map skip: a manifest carrying a delete sidecar " +
      "still plans fewer files than total, and the read equals the " +
      "resolved full-scan filter") {
    val ev = Tables.events(spark, sfDir)
    val path = tmp("r12_dvskip")
    (0L to 2L).foreach { r =>
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 3 === r)
          .repartitionByRange(4, col("event_id")),
        path, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
    }
    SinkOps.deleteVersionKeys(
      ev.filter(col("event_id") % 7 === 0).select("event_id"),
      path, "event_id")
    // The skip economics SURVIVE the DV commit: files-read < total.
    // Planning goes through the EPOCH-GROUPED view — the r13 contract:
    // the flat file accessor REFUSES a DV manifest (raw reads of its
    // list would serve deleted rows), and the epochs hand each kept
    // file set its applicable sidecars so a caller cannot ignore them.
    val range = Seq(LongRange("event_id", 100L, 299L))
    val plan = SinkOps.planVersionWhere(spark, path, range)
    val (kept, total) = (plan.epochs.flatMap(_.files), plan.filesListed)
    assert(sidecarHeader(path, "stats") == "event_id")
    assert(kept.nonEmpty && kept.size < total,
      s"no skip under DV manifest: ${kept.size} of $total planned")
    assert(plan.epochs.exists(_.deletes.nonEmpty),
      "DV manifest planned with no sidecar attached to any epoch")
    val exFlat = intercept[IllegalArgumentException] {
      plan.files
    }
    assert(exFlat.getMessage.contains("deletion vectors"),
      exFlat.getMessage)
    val got = SinkOps.readVersionWhere(spark, path, range)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = SinkOps.readVersion(spark, path)
      .filter(col("event_id").between(100L, 299L))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want),
      s"DV zone-map read diverged: ${got.length} vs ${want.length}")
    assert(want.forall(_ % 7 != 0), "deleted keys leaked into the scan")
  }

  test("DV-aware skip honors the ordered fold: a key re-inserted by a " +
      "data dir AFTER its delete sidecar survives the skip read, while " +
      "keys deleted from earlier dirs stay gone") {
    import spark.implicits._
    val path = tmp("r12_dvfold")
    SinkOps.commitVersion(
      Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("id", "s")
        .repartitionByRange(2, col("id")),
      path, SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.deleteVersionKeys(Seq(2L, 3L).toDF("id"), path, "id")
    // Re-insert key 2 AFTER the sidecar — the delete scopes only to
    // dirs committed before it, so the re-inserted row must survive.
    SinkOps.commitVersion(Seq((2L, "b2")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    val got = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("id", 1L, 10L)))
      .select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.sameElements(Array((1L, "a1"), (2L, "b2"))),
      s"ordered fold broken through the skip path: ${got.mkString(",")}")
  }

  test("DV-aware bloom and composed zone×bloom reads resolve a MERGE " +
      "commit inline: updated key reads its new row, the composed plan " +
      "still intersects both prunes") {
    val ev = Tables.events(spark, sfDir).limit(2000)
      .localCheckpoint(true)
    val path = tmp("r12_dvmerge")
    (0 to 1).foreach { r =>
      SinkOps.commitVersion(
        ev.filter(col("event_id") % 2 === r)
          .repartitionByRange(4, col("event_id")),
        path,
        SinkOps.CommitSpec(stats = Seq("event_id"),
          blooms = Seq("user_id"))); ()
    }
    val probe = ev.agg(max("event_id")).head().getLong(0)
    val u = ev.filter(col("event_id") === probe)
      .agg(min("user_id")).head().getLong(0)
    val upd = ev.filter(col("event_id") === probe)
      .withColumn("event_type", lit("merged"))
    SinkOps.mergeVersion(upd, path, "event_id")
    // Point read (bloom column = user_id) through the DV manifest:
    // the updated key must read its POST-image exactly once (old row
    // anti-joined, new row in).
    val got = SinkOps.readVersionWhere(spark, path,
        Seq(LongIn("user_id", Seq(u))))
      .filter(col("event_id") === probe)
      .select("event_id", "event_type").collect()
    assert(got.length == 1, s"expected 1 row, got ${got.length}")
    assert(got.head.getString(1) == "merged")
    // Composed read under the DV manifest equals the resolved scan.
    val comp = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("event_id", 0L, probe), LongIn("user_id", Seq(u))))
      .select("event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val want = SinkOps.readVersion(spark, path)
      .filter(col("event_id").between(0L, probe) &&
        col("user_id") === u)
      .select("event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(comp.sameElements(want),
      s"composed DV read diverged: ${comp.length} vs ${want.length}")
  }

  test("compactSmallDirs under deletion vectors packs ONLY the " +
      "post-merge epoch: frozen dirs and sidecars keep their fold " +
      "positions, the head reads identically, pinned versions intact") {
    import spark.implicits._
    val path = tmp("r12_binpack_dv2")
    val big = (1L to 400L).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(1)
    SinkOps.commitVersion(big, path)
    SinkOps.mergeVersion(Seq((2L, "B2"), (401L, "x")).toDF("id", "s"),
      path, "id")
    // Micro-appends AFTER the merge — the packable epoch.
    SinkOps.commitVersion(Seq((402L, "y")).toDF("id", "s"), path)
    SinkOps.commitVersion(Seq((403L, "z")).toDF("id", "s"), path)
    val before = SinkOps.readVersion(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val bigBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(root, "data/v1")).getLength
    val v = SinkOps.compactVersions(spark, path,
      SinkOps.Compaction.SmallDirs(bigBytes))
    val after = SinkOps.readVersion(spark, path, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(after.sameElements(before),
      "packing under DVs changed the resolved head")
    // The deleted/updated key still reads its post-image, exactly once.
    assert(after.count(_._1 == 2L) == 1 &&
      after.find(_._1 == 2L).get._2 == "B2")
    // The frozen prefix (v1 dir + sidecar) kept its fold position; the
    // packed manifest still carries the delete line BEFORE v1's... the
    // sidecar scopes data/v1 only.
    val mlines = SinkOps.manifestLines(spark, path, v)
    assert(mlines.head == "data/v1" &&
      mlines(1).startsWith("delete:"),
      s"frozen prefix reordered: ${mlines.mkString("|")}")
    // Pinned pre-pack version untouched.
    assert(SinkOps.readVersion(spark, path, Some(2)).count() == 401L)
  }

  // ---- delta manifests + checkpoints ----

  private def rawManifestText(path: String, v: Int): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(new org.apache.hadoop.fs.Path(root,
      f"manifest/v$v%05d.txt"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("delta manifests resolve identically to full manifests at every " +
      "version, delta commits carry O(1) metadata, and checkpoint " +
      "commits are full") {
    import spark.implicits._
    val slices = (1 to 5).map(i =>
      Seq((i.toLong, s"s$i")).toDF("id", "s"))
    val full = tmp("r12_mf_full")
    val delta = tmp("r12_mf_delta")
    slices.foreach { df => SinkOps.commitVersion(df, full); () }
    slices.foreach { df =>
      SinkOps.commitVersion(df, delta,
        SinkOps.CommitSpec(checkpointEvery = Some(3))); ()
    }
    (1 to 5).foreach { v =>
      assert(SinkOps.manifestLines(spark, delta, v) ==
        SinkOps.manifestLines(spark, full, v),
        s"delta chain resolves differently at v$v")
      val got = SinkOps.readVersion(spark, delta, Some(v))
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(1L to v.toLong))
    }
    // v2, v4, v5 are deltas (base: + one dir + the r13 ts: commit
    // stamp); v3 is a checkpoint.
    Seq(2, 4, 5).foreach { v =>
      val raw = rawManifestText(delta, v).split("\n")
      assert(raw.count(!_.startsWith("ts:")) == 2 &&
        raw.head == s"base:${v - 1}" && raw.last.startsWith("ts:"),
        s"v$v not a stamped delta manifest: ${raw.mkString("|")}")
    }
    assert(!rawManifestText(delta, 3).contains("base:"),
      "checkpoint commit v3 still carries a base reference")
  }

  test("VACUUM re-checkpoints surviving delta manifests whose base " +
      "falls below the horizon: reads survive the expired history") {
    import spark.implicits._
    val path = tmp("r12_mf_vacuum")
    (1 to 5).foreach { i => // no checkpoint in range
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path, SinkOps.CommitSpec(checkpointEvery = Some(100))); ()
    }
    val before4 = SinkOps.readVersion(spark, path, Some(4))
      .select("id").collect().map(_.getLong(0)).sorted
    SinkOps.expireVersions(spark, path, keep = 4)
    // v4's base chain reached v1 — it must have been rewritten full.
    assert(!rawManifestText(path, 4).contains("base:"),
      "surviving manifest still references expired history")
    val after4 = SinkOps.readVersion(spark, path, Some(4))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(after4.sameElements(before4), "v4 changed across VACUUM")
    // v5 (base:4, above the horizon) still resolves through v4.
    val head = SinkOps.readVersion(spark, path, Some(5))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(head.sameElements(1L to 5L))
    // Expired manifests are gone; pinned reads below the horizon fail.
    intercept[IllegalArgumentException] {
      SinkOps.readVersion(spark, path, Some(2))
    }
  }

  test("manifest tailing consumes a delta-manifest table: the streamed " +
      "view equals the full join (base: references dropped, never " +
      "re-expanded)") {
    import graft.ops.JoinOps
    val o = Tables.orders(spark, sfDir).limit(400)
      .localCheckpoint(true)
    val li = Tables.lineitem(spark, sfDir).limit(2000)
      .localCheckpoint(true)
    val tbl = tmp("r12_scf_delta")
    (0 to 2).foreach { r =>
      SinkOps.commitVersion(
        li.filter(col("l_orderkey") % 3 === r), tbl,
        SinkOps.CommitSpec(checkpointEvery = Some(100))); ()
    }
    val view = graft.streaming.StreamOps.changefeedStreamReplay(
      o, tbl, 1, tmp("r12_scf_delta_view"))
    val full = JoinOps.joinViewRows(o, li)
    assert(view.exceptAll(full).isEmpty && full.exceptAll(view).isEmpty,
      "streamed view over delta manifests diverges from the full join")
  }

  // ---- multi-column zone maps ----

  test("multi-column zone maps: the two-predicate prune is strictly " +
      "tighter than either single-column prune, the read equals the " +
      "full-scan conjunction, and statsOnlyAgg reports every declared " +
      "column") {
    val e = Tables.events(spark, sfDir)
    val path = tmp("r12_multistats")
    val b = e.agg(min("user_id"), max("user_id"),
      min("event_id"), max("event_id")).head()
    val (umin, umax, emin, emax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val span3 = (umax - umin + 1) / 3
    val (t1, t2) = (umin + span3, umin + 2 * span3)
    val (elo, ehi) = (emin + (emax - emin + 1) / 4,
      emin + (emax - emin + 1) / 2)
    Seq(col("user_id") < t1,
        col("user_id") >= t1 && col("user_id") < t2,
        col("user_id") >= t2)
      .foreach { p =>
        SinkOps.commitVersion(
          e.filter(p).repartitionByRange(4, col("event_id")),
          path, SinkOps.CommitSpec(stats = Seq("event_id", "user_id"))); ()
      }
    val both = Seq(LongRange("event_id", elo, ehi),
      LongRange("user_id", t1, t2 - 1))
    val planBoth = SinkOps.planVersionWhere(spark, path, both)
    val (keptBoth, total) = (planBoth.files, planBoth.filesListed)
    assert(sidecarHeader(path, "stats") == "event_id\tuser_id")
    val keptE = SinkOps.planVersionWhere(spark, path, both.take(1)).files
    val keptU = SinkOps.planVersionWhere(spark, path, both.drop(1)).files
    assert(keptBoth.nonEmpty, "conjunction pruned everything")
    assert(keptBoth.size < keptE.size && keptBoth.size < keptU.size,
      s"no multiplicative skip: both=${keptBoth.size} " +
        s"event=${keptE.size} user=${keptU.size} total=$total")
    val got = SinkOps.readVersionWhere(spark, path, both)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = e.filter(col("event_id").between(elo, ehi) &&
        col("user_id").between(t1, t2 - 1))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want),
      s"multi-column read diverged: ${got.length} vs ${want.length}")
    // A predicate on an undeclared column fails loudly.
    val ex = intercept[IllegalArgumentException] {
      SinkOps.planVersionWhere(spark, path, Seq(LongRange("value", 0L, 1L)))
    }
    assert(ex.getMessage.contains("declares stats for"))
    // statsOnlyAgg reports min/max for EVERY declared column.
    val so = SinkOps.statsOnlyAgg(spark, path)
    assert(so.columns.toSeq == Seq("n_rows", "min_event_id",
      "max_event_id", "min_user_id", "max_user_id", "n_files"))
    val r = so.head()
    assert(r.getLong(0) == e.count())
    assert(r.getLong(1) == emin && r.getLong(2) == emax)
    assert(r.getLong(3) == umin && r.getLong(4) == umax)
  }

  test("Z-order layout composes with multi-column zone maps: a 2-D box " +
      "predicate prunes files on BOTH dimensions and equals the " +
      "full-scan conjunction (the OPTIMIZE ZORDER production combo)") {
    val e = Tables.events(spark, sfDir)
    val path = tmp("r12_zorder_stats")
    // zorderLayout's shape with an explicit partition count (the tiny
    // fixture would otherwise land in one range partition = one file).
    val laid = e.withColumn("_z", graft.ops.SortOps.zorderValue(
        col("event_id"), col("user_id"), bits = 20))
      .repartitionByRange(8, col("_z"))
      .sortWithinPartitions("_z").drop("_z")
    SinkOps.commitVersion(laid, path,
      SinkOps.CommitSpec(stats = Seq("event_id", "user_id")))
    val b = e.agg(min("event_id"), max("event_id"),
      min("user_id"), max("user_id")).head()
    // A box covering ~1/4 × ~1/4 of each dimension's range.
    val (elo, ehi) = (b.getLong(0), b.getLong(0) +
      (b.getLong(1) - b.getLong(0)) / 4)
    val (ulo, uhi) = (b.getLong(2), b.getLong(2) +
      (b.getLong(3) - b.getLong(2)) / 4)
    val box = Seq(LongRange("event_id", elo, ehi),
      LongRange("user_id", ulo, uhi))
    val plan = SinkOps.planVersionWhere(spark, path, box)
    val (kept, total) = (plan.files, plan.filesListed)
    assert(total >= 3, s"fixture too small to exercise pruning: $total")
    assert(kept.nonEmpty && kept.size < total,
      s"z-order box prune kept everything: ${kept.size} of $total")
    val got = SinkOps.readVersionWhere(spark, path, box)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = e.filter(col("event_id").between(elo, ehi) &&
        col("user_id").between(ulo, uhi))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("compactVersionsZOrder: the rewrite resolves DVs, lands ONE " +
      "dir with both-column stats, and a 2-D box predicate prunes " +
      "files — head identical to the pre-compact resolved read") {
    val e = Tables.events(spark, sfDir)
    val path = tmp("r12_zoptim")
    (0L to 1L).foreach { r =>
      SinkOps.commitVersion(e.filter(col("event_id") % 2 === r),
        path); ()
    }
    SinkOps.deleteVersionKeys(
      e.filter(col("event_id") % 9 === 0).select("event_id"),
      path, "event_id")
    val before = SinkOps.readVersion(spark, path)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val v = SinkOps.compactVersions(spark, path,
      SinkOps.Compaction.ZOrder(Seq("event_id", "user_id"), bits = 20))
    val lines = SinkOps.manifestLines(spark, path, v)
    assert(lines == Seq(s"data/v$v"),
      s"z-order compact left extra lines: $lines")
    val after = SinkOps.readVersion(spark, path, Some(v))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(after.sameElements(before), "z-order rewrite lost rows")
    val b = e.agg(min("event_id"), max("event_id"),
      min("user_id"), max("user_id")).head()
    val box = Seq(
      LongRange("event_id", b.getLong(0),
        b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4),
      LongRange("user_id", b.getLong(2),
        b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 4))
    val plan = SinkOps.planVersionWhere(spark, path, box)
    val (kept, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "stats", v) == "event_id\tuser_id")
    assert(kept.nonEmpty && (total < 3 || kept.size < total),
      s"2-D box pruned nothing: ${kept.size} of $total")
    val got = SinkOps.readVersionWhere(spark, path, box)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = SinkOps.readVersion(spark, path, Some(v))
      .filter(col("event_id").between(box(0).lo, box(0).hi) &&
        col("user_id").between(box(1).lo, box(1).hi))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("versionHistory exposes read amplification: n_read_groups " +
      "grows with trailing merge commits and collapses to 1 after " +
      "compaction") {
    import spark.implicits._
    val path = tmp("r12_readgroups")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.mergeVersion(Seq((2L, "B")).toDF("id", "s"), path, "id",
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.mergeVersion(Seq((3L, "c")).toDF("id", "s"), path, "id",
      SinkOps.CommitSpec(stats = Seq("id")))
    // The history shows the debt curve 1 → 2 → 3 → 1.
    val cv = SinkOps.compactVersions(spark, path,
      SinkOps.Compaction.Full(Some("id")))
    val hist = SinkOps.versionHistory(spark, path)
      .select("version", "n_delete_commits", "n_read_groups")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    assert(hist.map(_._3).sameElements(Array(1, 2, 3, 1)),
      s"read-group curve wrong: ${hist.mkString(",")}")
    assert(hist.map(_._2).sameElements(Array(0, 1, 2, 0)))
    assert(cv == 4)
  }

  // ---- batch-keyed idempotent merge commits ----

  test("mergeVersionKeyed is idempotent under at-least-once delivery: " +
      "re-applying a batch with the same key reuses its version — " +
      "version count and head bit-identical — while a new key commits") {
    import spark.implicits._
    val path = tmp("r12_mergekey")
    SinkOps.commitVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), path)
    val b1 = Seq((2L, "B1"), (4L, "d")).toDF("id", "s")
    val v1 = SinkOps.mergeVersion(b1, path, "id",
      SinkOps.CommitSpec(batchKey = Some("batch-1")))
    assert(v1 == 2)
    val headAfter = SinkOps.readVersion(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // Redelivery: same batch key — no new commit, same version back.
    val vRe = SinkOps.mergeVersion(b1, path, "id",
      SinkOps.CommitSpec(batchKey = Some("batch-1")))
    assert(vRe == v1, s"redelivered batch re-committed: $vRe")
    assert(SinkOps.currentVersion(spark, path) == v1,
      "redelivery appended a duplicate merge commit")
    val headRe = SinkOps.readVersion(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(headRe.sameElements(headAfter), "head drifted on redelivery")
    // A genuinely new batch still commits.
    val v2 = SinkOps.mergeVersion(
      Seq((4L, "D2")).toDF("id", "s"), path, "id",
      SinkOps.CommitSpec(batchKey = Some("batch-2")))
    assert(v2 == 3)
    val fin = SinkOps.readVersion(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(fin.sameElements(
      Array((1L, "a"), (2L, "B1"), (3L, "c"), (4L, "D2"))),
      s"merge chain wrong: ${fin.mkString(",")}")
  }

  // ---- executor-side bloom sidecar fold ----

  test("bloom sidecars fold executor-side and stay BYTE-IDENTICAL to " +
      "an independent driver-side replica of the documented hash/bitmap " +
      "construction; probes still plan and read correctly") {
    val ev = Tables.events(spark, sfDir).limit(3000)
      .localCheckpoint(true)
    val path = tmp("r12_bloomfold")
    SinkOps.commitVersion(
      ev.repartition(3, col("user_id")), path,
      SinkOps.CommitSpec(blooms = Seq("event_id")))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def textOf(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val got = textOf(new org.apache.hadoop.fs.Path(root, "blooms/v1.txt"))
    // Independent replica: plain-Scala fold over the committed rows
    // using the scaladoc-pinned constants (prime P, the 4 (a,b) pairs,
    // m = nextPow2(16·maxN) clamped to [2^13, 2^24], byte p>>3 mask
    // 1<<(p&7), lowercase hex).
    val P = 1000000007L
    val A = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
    val B = Seq(374761393L, 1103515245L, 1779033703L, 2147483647L)
    val byFile = spark.read.parquet(s"$path/data/v1")
      .select(input_file_name().as("f"), col("event_id"))
      .collect()
      .map(r => (new org.apache.hadoop.fs.Path(
        new java.net.URI(r.getString(0))).getName, r.getLong(1)))
      .groupBy(_._1)
    val maxN = byFile.values.map(_.length.toLong).max
    val m = math.min(1L << 24, math.max(1L << 13,
      java.lang.Long.highestOneBit(16L * maxN - 1) << 1)).toInt
    val lines = "event_id" +: byFile.toSeq.map { case (name, rows) =>
      val bytes = new Array[Byte](m / 8)
      rows.foreach { case (_, v) =>
        val vn = ((v % P) + P) % P
        A.zip(B).foreach { case (a, b) =>
          val bt = (((vn * (a % P) + b) % P) % m).toInt
          bytes(bt >> 3) = (bytes(bt >> 3) | (1 << (bt & 7))).toByte
        }
      }
      name + "\t" + bytes.map(x => String.format(
        java.util.Locale.ROOT, "%02x",
        Integer.valueOf(x & 0xff))).mkString
    }.sorted
    assert(got == lines.mkString("\n"),
      "executor-folded bloom sidecar diverged from the driver replica")
    // The folded sidecar still serves probes.
    val probe = ev.agg(max("event_id")).head().getLong(0)
    val point = Seq(LongIn("event_id", Seq(probe)))
    val plan = SinkOps.planVersionWhere(spark, path, point)
    val (kept, total) = (plan.files, plan.filesListed)
    assert(kept.nonEmpty && kept.size <= total)
    assert(SinkOps.readVersionWhere(spark, path, point).count() ==
      ev.filter(col("event_id") === probe).count())
  }

  // ---- multi-column blooms ----

  test("multi-column blooms: the two-probe intersection prunes at " +
      "least as tightly as either single probe, the read equals the " +
      "full-scan conjunction, k=1 sidecars stay byte-compatible, and " +
      "an undeclared probe column fails loudly") {
    val e = Tables.events(spark, sfDir)
    val path = tmp("r12_bloommulti")
    (0 to 2).foreach { r =>
      SinkOps.commitVersion(
        e.filter((col("event_id") + col("user_id")) % 3 === r)
          .repartition(4, col("ts")),
        path, SinkOps.CommitSpec(blooms = Seq("event_id", "user_id"))); ()
    }
    val eMax = e.agg(max("event_id")).head().getLong(0)
    val u = e.filter(col("event_id") === eMax)
      .agg(min("user_id")).head().getLong(0)
    val probeE = LongIn("event_id", Seq(eMax))
    val probeU = LongIn("user_id", Seq(u))
    val planE = SinkOps.planVersionWhere(spark, path, Seq(probeE))
    val (kE, total) = (planE.files, planE.filesListed)
    val kU = SinkOps.planVersionWhere(spark, path, Seq(probeU)).files
    assert(sidecarHeader(path, "blooms") == "event_id\tuser_id")
    assert(kE.size < total, "event_id probe pruned nothing")
    // The two-probe plan intersects the single prunes.
    assert(SinkOps.planVersionWhere(spark, path, Seq(probeE, probeU))
      .files.toSet == kE.toSet.intersect(kU.toSet))
    val got = SinkOps.readVersionWhere(spark, path, Seq(probeE, probeU))
      .select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = e.filter(col("event_id") === eMax &&
        col("user_id") === u)
      .select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want), "two-probe read diverged")
    val ex = intercept[IllegalArgumentException] {
      SinkOps.planVersionWhere(spark, path, Seq(LongIn("value", Seq(1L))))
    }
    assert(ex.getMessage.contains("declares blooms for"))
  }

  // ---- schema evolution through the skip tier ----

  test("skip reads over a schema-evolved snapshot: mergeSchema=true " +
      "reads the union schema null-filled, equal to the resolved " +
      "full-scan filter") {
    import spark.implicits._
    val path = tmp("r12_skipevo")
    SinkOps.commitVersion(
      Seq((1L, "a"), (5L, "b")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    // Evolution: the second commit adds a `lang` column.
    SinkOps.commitVersion(
      Seq((10L, "c", "en"), (20L, "d", "fr")).toDF("id", "s", "lang"),
      path, SinkOps.CommitSpec(stats = Seq("id")))
    val got = SinkOps.readVersionWhere(spark, path,
        Seq(LongRange("id", 1L, 12L)), mergeSchema = true)
      .select("id", "s", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("-"))).sortBy(_._1)
    assert(got.sameElements(Array((1L, "a", "-"), (5L, "b", "-"),
      (10L, "c", "en"))),
      s"schema-evolved skip read wrong: ${got.mkString(",")}")
  }

  test("the version allocator skips a manifest number a racing writer " +
      "already landed, and a VACUUM re-checkpoint still overwrites its " +
      "own manifest legitimately") {
    import spark.implicits._
    val path = tmp("r12_commit_occ")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    // A racing writer landed manifest v2 directly: the next commit's
    // allocation must skip past it, never clobber it. (The
    // writeManifestLines create(overwrite=false) backstop additionally
    // fails loudly if allocation itself raced on a store whose listing
    // lagged — not interleavable from the public API, covered by the
    // overwrite-flag contract.)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new org.apache.hadoop.fs.Path(root, "manifest/v00002.txt")
    val out = fs.create(mf, false)
    out.write("data/v1".getBytes("UTF-8")); out.close()
    val v = SinkOps.commitVersion(Seq((2L, "b")).toDF("id", "s"), path)
    assert(v == 3, s"allocator reused a taken version: $v")
    assert(SinkOps.readVersion(spark, path, Some(2)).count() == 1L,
      "racing writer's manifest clobbered")
    // The VACUUM re-checkpoint path (the one legitimate overwrite)
    // still works on a delta chain.
    val dpath = tmp("r12_commit_occ_d")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, "x")).toDF("id", "s"),
        dpath, SinkOps.CommitSpec(checkpointEvery = Some(100))); ()
    }
    SinkOps.expireVersions(spark, dpath, keep = 2)
    assert(SinkOps.readVersion(spark, dpath, Some(3)).count() == 3L)
  }

  // ---- DV minor compaction (adjacent sidecar coalescing) ----

  test("coalesceDeletes unions adjacent same-keyCol sidecar runs into " +
      "one, dropping n_read_groups, with the head bit-identical; " +
      "sidecars split by a data commit stay split; no-op refuses") {
    import spark.implicits._
    val path = tmp("r12_dvcoal")
    SinkOps.commitVersion(
      (1L to 30L).map(i => (i, s"s$i")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    Seq(2L, 3L).foreach { m =>
      SinkOps.deleteVersionKeys(
        (1L to 30L).filter(_ % m == 0).toDF("id"), path, "id"); ()
    }
    // A data commit splits the run; a further delete follows it.
    SinkOps.commitVersion(Seq((4L, "re")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.deleteVersionKeys(Seq(5L, 25L).toDF("id"), path, "id")
    val before = SinkOps.readVersion(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val delsBefore = SinkOps.versionHistory(spark, path)
      .orderBy(col("version").desc).select("n_delete_commits")
      .head().getInt(0)
    assert(delsBefore == 3)
    val v = SinkOps.coalesceDeletes(spark, path)
    val after = SinkOps.readVersion(spark, path, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(after.sameElements(before),
      "coalescing changed the resolved head")
    // The re-inserted key 4 (after the first run) must still be alive.
    assert(after.exists(p => p._1 == 4L && p._2 == "re"),
      "ordered-fold scope broken by coalescing")
    // The per-read anti-join fold count (sidecars = n_delete_commits)
    // drops; the epoch-group count is bounded by data-commit
    // interleaving and stays.
    val delsAfter = SinkOps.versionHistory(spark, path)
      .orderBy(col("version").desc).select("n_delete_commits")
      .head().getInt(0)
    assert(delsAfter == 2,
      s"fold count did not drop: $delsBefore -> $delsAfter")
    // Only the adjacent run coalesced: the post-data-commit sidecar
    // remains its own line.
    val dels = SinkOps.manifestLines(spark, path, v)
      .filter(_.startsWith("delete:"))
    assert(dels.length == 2, s"wrong sidecar count: $dels")
    // Nothing left to coalesce — refuse loudly.
    val ex = intercept[IllegalArgumentException] {
      SinkOps.coalesceDeletes(spark, path)
    }
    assert(ex.getMessage.contains("no adjacent delete sidecars"))
  }

  // ---- batch-keyed append commits ----

  test("commitVersionKeyed: a redelivered append batch reuses its " +
      "version — history and head bit-identical — while new keys " +
      "commit") {
    import spark.implicits._
    val path = tmp("r12_commitkey")
    val v1 = SinkOps.commitVersion(
      Seq((1L, "a")).toDF("id", "s"), path,
      SinkOps.CommitSpec(batchKey = Some("batch-0")))
    assert(v1 == 1)
    val vRe = SinkOps.commitVersion(
      Seq((1L, "a")).toDF("id", "s"), path,
      SinkOps.CommitSpec(batchKey = Some("batch-0")))
    assert(vRe == 1 && SinkOps.currentVersion(spark, path) == 1,
      "redelivered append re-committed")
    val v2 = SinkOps.commitVersion(
      Seq((2L, "b")).toDF("id", "s"), path,
      SinkOps.CommitSpec(batchKey = Some("batch-1")))
    assert(v2 == 2)
    assert(SinkOps.readVersion(spark, path).count() == 2L)
  }

  // ---- streaming delta-manifest sink ----

  test("versionedSinkReplayDelta: every non-checkpoint commit is a " +
      "2-line delta manifest, checkpoints are full, and every version " +
      "stays a pinned time-travel read") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, s"s$i")).toDF("id", "s")
    val tbl = tmp("r12_ttd")
    val spec = SinkOps.CommitSpec(checkpointEvery = Some(3))
    val latest = graft.streaming.StreamOps.versionedSinkReplay(
      rows, tbl, tmp("r12_ttd_stage"), "id", Seq(11L, 21L, 31L), spec)
    assert(latest.count() == 40L)
    assert(SinkOps.currentVersion(spark, tbl) == 4)
    Seq(1, 2, 4).foreach { v =>
      if (v > 1) {
        val raw = rawManifestText(tbl, v).split("\n")
        assert(raw.head == s"base:${v - 1}" &&
          raw.count(!_.startsWith("ts:")) == 2,
          s"v$v should be a delta manifest: ${raw.mkString("|")}")
      }
    }
    assert(!rawManifestText(tbl, 3).contains("base:"),
      "v3 should be the full checkpoint")
    // Pinned mid-stream read: v2 = the first two slices.
    assert(SinkOps.readVersion(spark, tbl, Some(2)).count() == 20L)
    // Exactly-once like every versioned replay: micro-batch 0 delivered
    // again returns its recorded version and commits nothing.
    assert(SinkOps.commitVersion(rows.filter($"id" < 11L), tbl,
      spec.copy(batchKey = Some("batch-0"))) == 1)
    assert(SinkOps.currentVersion(spark, tbl) == 4)
    assert(SinkOps.readVersion(spark, tbl).count() == 40L)
  }

  // ---- lakehouse SQL front door (table-valued functions) ----

  test("graft_version / table_changes TVFs: SQL reads equal the Scala " +
      "API (DV merge resolved through SQL), filters push into the " +
      "snapshot scan, and bad arguments fail loudly") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val path = tmp("r12_tvf")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    SinkOps.mergeVersion(Seq((2L, "B2"), (3L, "c")).toDF("id", "s"),
      path, "id")
    // Head read resolves the DV merge exactly like the Scala API.
    val head = spark.sql(
        s"SELECT id, s FROM graft_version('$path') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(head.sameElements(Array((1L, "a"), (2L, "B2"), (3L, "c"))),
      s"SQL head read wrong: ${head.mkString(",")}")
    // Pinned time travel: v1 pre-merge.
    assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_version('$path', 1)")
      .head().getLong(0) == 2L)
    // Changefeed TVF = the merge batch's post-images.
    val chg = spark.sql(
        s"SELECT id FROM table_changes('$path', 1, 2) ORDER BY id")
      .collect().map(_.getLong(0))
    assert(chg.sameElements(Array(2L, 3L)))
    // The delete half of the SQL CDF: merge-touched keys.
    val dk = spark.sql(
        s"SELECT id FROM graft_deleted_keys('$path', 1, 2) ORDER BY id")
      .collect().map(_.getLong(0))
    assert(dk.sameElements(Array(2L, 3L)))
    // The TVF splices an ANALYZED PLAN, so enclosing filters reach the
    // parquet scan (pushed, not post-filtered).
    val plan = spark.sql(
        s"SELECT id FROM graft_version('$path', 1) WHERE id = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"),
      s"filter not pushed into the TVF scan:\n$plan")
    // DESCRIBE HISTORY through SQL (needs stats-covered commits).
    val path2 = tmp("r12_tvf_hist")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      path2, SinkOps.CommitSpec(stats = Seq("id")))
    SinkOps.commitVersion(Seq((3L, "c")).toDF("id", "s"), path2,
      SinkOps.CommitSpec(stats = Seq("id")))
    val hist = spark.sql(
        s"""SELECT version, n_rows, n_read_groups
            FROM graft_history('$path2') ORDER BY version""")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    assert(hist.sameElements(Array((1, 2L, 1), (2, 3L, 1))),
      s"SQL history wrong: ${hist.mkString(",")}")
    // Metadata-only aggregate through SQL.
    val st = spark.sql(
        s"SELECT n_rows, min_id, max_id, n_files FROM graft_stats('$path2')")
      .head()
    assert(st.getLong(0) == 3L && st.getLong(1) == 1L &&
      st.getLong(2) == 3L)
    // Skip-tier read through SQL: the spliced plan's file index holds
    // ONLY the sidecar-kept files (vs graft_version's full listing).
    val path3 = tmp("r12_tvf_skip")
    (0L to 2L).foreach { r =>
      SinkOps.commitVersion(
        Tables.events(spark, sfDir).filter(col("event_id") % 3 === r)
          .repartitionByRange(4, col("event_id")),
        path3, SinkOps.CommitSpec(stats = Seq("event_id"))); ()
    }
    val skipSql = spark.sql(
      s"SELECT event_id FROM graft_version_where('$path3', 'event_id', 100, 199)")
    val plan3 = SinkOps.planVersionWhere(spark, path3,
      Seq(LongRange("event_id", 100L, 199L)))
    val (kept, total) = (plan3.files, plan3.filesListed)
    assert(kept.size < total, "fixture produced no skip")
    assert(skipSql.collect().map(_.getLong(0)).sorted.sameElements(
      Tables.events(spark, sfDir)
        .filter(col("event_id").between(100L, 199L))
        .select("event_id").collect().map(_.getLong(0)).sorted),
      "SQL skip read diverged from the filter")
    // The files the SQL read actually touches are exactly sidecar-kept
    // ones — pruned files never enter the plan.
    val keptNames = kept.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    val touched = spark.sql(
        s"""SELECT DISTINCT _metadata.file_name AS f
            FROM graft_version_where('$path3', 'event_id', 100, 199)""")
      .collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(keptNames),
      s"SQL skip read touched a pruned file: ${touched.mkString(",")}")
    // Loud contracts: missing version, non-constant argument.
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_version('$path', 9)").collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$path', 1)").collect()
    }
    // The builder hook applies cleanly to a fresh extensions container.
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
