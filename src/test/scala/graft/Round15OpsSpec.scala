package graft

import org.apache.spark.sql.functions._
import graft.ops.{QualityOps, SinkOps}
import graft.ops.SinkOps.SkipPred._

/** Round-15 specs: VACUUM vs in-flight/staged writers (staged
  * manifests' dirs are live; never-committed dirs get the retention
  * grace), plus the crash-durable bench record's building blocks.
  */
class Round15OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  import spark.implicits._

  // ---- VACUUM vs staged / in-flight writers ----

  test("VACUUM does not reclaim a staged (unpublished) WAP batch: " +
      "stage → VACUUM(keep=head) → publish → read succeeds") {
    val path = tmp("r15_vac_wap")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    SinkOps.compactVersions(spark, path) // v4; v1-3 dirs unreferenced
    val staged = SinkOps.stageVersion(
      Seq((99L, "staged")).toDF("id", "s"), path)
    // Eager sweep mid-audit: reclaims exactly the three pre-compaction
    // dirs, NOT the staged batch's dir (its manifest lives in staging/
    // and counts as live even at retainMillis=0).
    assert(SinkOps.expireVersions(spark, path, keep = 4) == 3)
    SinkOps.publishStaged(spark, path, staged)
    val head = SinkOps.readVersion(spark, path)
    assert(head.filter(col("id") === 99L).count() == 1,
      "published WAP batch lost its data dir to the VACUUM sweep")
    assert(head.count() == 4)
  }

  test("VACUUM age-graces a never-committed dir (in-flight OCC writer " +
      "between data write and manifest create) but reclaims expired " +
      "history regardless of age") {
    val path = tmp("r15_vac_orphan")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    SinkOps.compactVersions(spark, path) // v4; v1-3 dirs unreferenced
    // Simulate an in-flight OCC writer: data dir written, manifest not
    // yet created (commitVersionRetrying's window).
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Seq((7L, "inflight")).toDF("id", "s").write
      .parquet(new org.apache.hadoop.fs.Path(root, "data/v9").toString)
    // Graced sweep: v1-3 survive via the retention horizon (seconds
    // old), and so does the orphan — nothing reclaimed.
    assert(SinkOps.expireVersions(spark, path, keep = 4,
      retainMillis = 3600000L) == 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "data/v9")),
      "in-flight writer's dir reclaimed inside the retention horizon")
    // EAGER sweep (retainMillis=0, r16): expired history reclaims
    // immediately via the reference count, but the never-referenced
    // in-flight dir gets the age FLOOR — an OCC writer between data
    // write and manifest create survives an eager VACUUM issued in
    // that window (the r15 caller-knows-best hole, closed).
    val eager = SinkOps.expireVersions(spark, path, keep = 4)
    assert(eager == 3, s"eager sweep deleted $eager dirs") // v1-3 only
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "data/v9")),
      "eager sweep reclaimed an in-flight OCC writer's dir inside " +
        "the age floor")
    // Seam-injected timing (the createTableSeam discipline): with the
    // floor lowered to 0 the orphan ages out and the eager sweep
    // reclaims it.
    val saved = SinkOps.inFlightFloorMillis
    try {
      SinkOps.inFlightFloorMillis = 0L
      assert(SinkOps.expireVersions(spark, path, keep = 4) == 1)
    } finally SinkOps.inFlightFloorMillis = saved
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "data/v9")))
    assert(SinkOps.readVersion(spark, path).count() == 3)
  }

  test("VACUUM grace splits referenced-expired from never-committed: " +
      "with an old orphan and a young orphan under a horizon, only " +
      "the old orphan is reclaimed alongside expired history") {
    val path = tmp("r15_vac_split")
    (1 to 2).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    SinkOps.compactVersions(spark, path) // v3; v1-2 unreferenced
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Seq((7L, "old")).toDF("id", "s").write
      .parquet(new org.apache.hadoop.fs.Path(root, "data/v8").toString)
    Seq((8L, "young")).toDF("id", "s").write
      .parquet(new org.apache.hadoop.fs.Path(root, "data/v9").toString)
    // Backdate ONLY the old orphan's mtime past the horizon. The
    // expired-history dirs v1-2 stay fresh — they are reclaimed via
    // the reference count, proving age plays no part for them. The
    // horizon must be small enough that the keepEff clamp (commit
    // stamps, all fresh) does not engage... it WILL engage for fresh
    // commits, so backdate the commit stamps too via a horizon of 0?
    // No: use retainMillis small (50 ms) and sleep past it, so commit
    // stamps clear the cutoff while the young orphan (touched after
    // the sleep) does not.
    val localDir = new java.io.File(path, "data/v8")
    assert(localDir.exists)
    localDir.setLastModified(
      System.currentTimeMillis() - 7200000L)
    Thread.sleep(150)
    // Refresh the young orphan's mtime to now.
    new java.io.File(path, "data/v9")
      .setLastModified(System.currentTimeMillis())
    val n = SinkOps.expireVersions(spark, path, keep = 3,
      retainMillis = 100L)
    // v1, v2 (referenced-expired, fresh mtime) + old orphan = 3.
    assert(n == 3, s"sweep deleted $n dirs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "data/v8")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "data/v9")),
      "young never-committed dir reclaimed inside the horizon")
  }

  test("VACUUM DRY RUN plans exactly what the real sweep reclaims " +
      "and touches nothing — including the staged/orphan guards; " +
      "SQL DRY RUN returns the dir rows") {
    val path = tmp("r15_vacdry")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    SinkOps.compactVersions(spark, path) // v4; v1-3 unreferenced
    val staged = SinkOps.stageVersion(
      Seq((9L, "staged")).toDF("id", "s"), path)
    val would = SinkOps.vacuumDryRun(spark, path, keep = 4)
    assert(would.sorted == Seq("data/v1", "data/v2", "data/v3"),
      s"dry run planned $would")
    // Nothing touched: expired history still reads, stage publishes.
    assert(SinkOps.readVersion(spark, path, Some(2)).count() == 2)
    SinkOps.publishStaged(spark, path, staged)
    // SQL face.
    val sqlRows = spark.sql(
      s"VACUUM graft_table('$path') KEEP 4 DRY RUN")
      .collect().map(_.getString(0)).sorted
    assert(sqlRows.sameElements(
      Array("data/v1", "data/v2", "data/v3")))
    // The real sweep then reclaims exactly the planned set (the
    // staged batch published meanwhile — its dir is referenced now).
    assert(SinkOps.expireVersions(spark, path, keep = 4) == 3)
  }

  // ---- string zone maps ----

  private val strRows = Seq(
    (1L, ""), (2L, "aaa"), (3L, "bbb\ttab"), (4L, "ccc%pct"),
    (5L, "ddd\nnl"), (6L, "prefixprefixprefix_AAAA"),
    (7L, "prefixprefixprefix_MMMM"), (8L, "prefixprefixprefix_ZZZZ"),
    (9L, "zz"), (10L, "zzz"))

  test("string zone maps: files-read < files-total under a selective " +
      "range, and the pruned read ≡ the full-scan filter (truncated " +
      "bounds + exact residual), tabs/%/newlines/empty round-trip") {
    val path = tmp("r15_strzm")
    val df = strRows.toDF("id", "s")
    // Range-cluster on s so files carry tight string bounds.
    SinkOps.commitVersion(df.repartitionByRange(5, col("s")), path,
      SinkOps.CommitSpec(stats = Seq("s")))
    val plan = SinkOps.planVersionWhere(spark, path,
      Seq(StringRange("s", "a", "c")))
    val (kept, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "stats") == "s#str")
    assert(kept.size < total,
      s"no pruning: kept ${kept.size} of $total")
    // Equality on ranges that cut inside truncated prefixes, cross
    // the escape characters, and include the empty-string minimum.
    val probes = Seq(("a", "c"), ("", "b"),
      ("prefixprefixprefix_B", "prefixprefixprefix_N"), // inside trunc
      ("b", "e"), ("zz", "zzz"))
    probes.foreach { case (lo, hi) =>
      val got = SinkOps.readVersionWhere(spark, path,
          Seq(StringRange("s", lo, hi)))
        .select("id").collect().map(_.getLong(0)).sorted
      val want = strRows.filter { case (_, s) => s >= lo && s <= hi }
        .map(_._1).sorted
      assert(got.toSeq == want,
        s"[$lo,$hi]: got ${got.mkString(",")} want ${want.mkString(",")}")
    }
  }

  test("string zone maps: the truncated upper bound increments the " +
      "last code point — a value past the 16-cp prefix is never " +
      "wrongly skipped") {
    val path = tmp("r15_strzm_trunc")
    // One file, one long value: bounds are trunc("prefix…")/"…pref"+1.
    SinkOps.commitVersion(
      Seq((1L, "prefixprefixprefix_ZZZZ")).toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("s")))
    // hi sits between the truncated min and the true value; the exact
    // min bound (a prefix) must keep the file, the residual drops the
    // row — correct empty result, no crash, no wrong skip the other
    // way for a hi above the true value.
    assert(SinkOps.readVersionWhere(spark, path, Seq(StringRange("s",
      "prefixprefixprefix_A", "prefixprefixprefix_B"))).count() == 0)
    assert(SinkOps.readVersionWhere(spark, path, Seq(StringRange("s",
      "prefixprefixprefix_Z", "prefixprefixprefiy"))).count() == 1)
  }

  test("string zone maps refuse loudly where exactness would be " +
      "silently lost: numeric pred on a string column, string pred " +
      "on a numeric column, stats-only agg over truncated bounds, " +
      "nested stats column at commit") {
    val path = tmp("r15_strzm_refuse")
    SinkOps.commitVersion(strRows.toDF("id", "s"), path,
      SinkOps.CommitSpec(stats = Seq("s")))
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, path, Seq(LongRange("s", 1L, 5L)))
        .collect()
    }
    assert(e1.getMessage.contains("str-kinded"))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, path).collect()
    }
    assert(e2.getMessage.contains("truncated"))
    val pathN = tmp("r15_strzm_refuse_num")
    SinkOps.commitVersion(strRows.toDF("id", "s"), pathN,
      SinkOps.CommitSpec(stats = Seq("id")))
    val e3 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, pathN,
        Seq(StringRange("id", "a", "b"))).collect()
    }
    assert(e3.getMessage.contains("plain-numeric"))
    val pathA = tmp("r15_strzm_refuse_arr")
    val e4 = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(
        strRows.toDF("id", "s").withColumn("arr", array(col("s"))),
        pathA, SinkOps.CommitSpec(stats = Seq("arr")))
    }
    assert(e4.getMessage.contains("nested"))
  }

  // ---- string blooms ----

  test("string bloom sidecars: point lookup on a string key skips " +
      "files (kept < total), equals the full-scan filter, and the " +
      "kind mismatch refuses both ways") {
    val path = tmp("r15_strbloom")
    val docs = (1L to 200L).map(i => (i, s"https://h.example.com/p$i"))
      .toDF("id", "url").repartition(8)
    SinkOps.commitVersion(docs, path,
      SinkOps.CommitSpec(blooms = Seq("url")))
    def probe(u: String) = Seq(StringIn("url", Seq(u)))
    val plan = SinkOps.planVersionWhere(spark, path,
      probe("https://h.example.com/p42"))
    val (kept, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "blooms") == "url#str" && total == 8)
    assert(kept.size < total, s"no skip: ${kept.size} of $total")
    val hit = SinkOps.readVersionWhere(spark, path,
      probe("https://h.example.com/p42")).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(42L))
    assert(SinkOps.readVersionWhere(spark, path,
      probe("https://h.example.com/absent)(")).count() == 0)
    // Kind mismatches refuse loudly.
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, path, Seq(LongIn("url", Seq(42L))))
        .collect()
    }
    assert(e1.getMessage.contains("string-typed"))
    val pathN = tmp("r15_strbloom_num")
    SinkOps.commitVersion((1L to 50L).map(i => (i, s"s$i"))
      .toDF("id", "s"), pathN, SinkOps.CommitSpec(blooms = Seq("id")))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, pathN, Seq(StringIn("id", Seq("42"))))
        .collect()
    }
    assert(e2.getMessage.contains("numeric"))
  }

  test("classifyChanges serves STRING keys from string bloom " +
      "sidecars — doc-id attribution at O(changed keys)") {
    val path = tmp("r15_cdf_strbloom")
    val docs = (1L to 100L).map(i => (s"doc$i", s"body$i"))
      .toDF("doc_id", "body").repartition(4)
    SinkOps.commitVersion(docs, path,
      SinkOps.CommitSpec(blooms = Seq("doc_id")))
    val batch = Seq(("doc7", "rewritten"), ("docNEW", "fresh"))
      .toDF("doc_id", "body")
    val v2 = SinkOps.mergeVersion(batch, path, "doc_id")
    val out = SinkOps.classifyChanges(spark, path, 1, v2, "doc_id")
      .select("doc_id", "change_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("doc7" -> "update", "docNEW" -> "insert"))
    // Economics visible through the planning view: 2 keys probe < 4
    // files.
    val plan = SinkOps.planVersionWhere(spark, path,
      Seq(StringIn("doc_id", Seq("doc7", "docNEW"))), Some(1))
    val (kept, total) = (plan.files, plan.filesListed)
    assert(total == 4 && kept.size < total)
  }

  // ---- OCC retry for schema/maintenance verbs ----

  test("widen races a commit and LANDS on retry, re-validated " +
      "against the advanced head; racing an identical widen refuses " +
      "loudly instead of double-applying") {
    val path = tmp("r15_occ_widen")
    SinkOps.commitVersion(
      Seq((1L, 1)).toDF("id", "vint"), path)
    // Attempt 1 loses to a racing append; attempt 2 re-validates the
    // column in the advanced head (still int) and lands.
    val v = SinkOps.widenVersionColumn(spark, path, "vint", "bigint",
      maxTries = 2, beforeAttempt = a => if (a == 1) {
        SinkOps.commitVersion(Seq((2L, 2)).toDF("id", "vint"), path); ()
      })
    assert(v == 3) // racer took v2
    val head = SinkOps.readVersion(spark, path)
    assert(head.schema("vint").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(head.count() == 2, "racer's rows lost by the widen retry")
    // Racing an identical widen: the retry's re-validation sees the
    // advanced head already wide and surfaces the loud refusal.
    val path2 = tmp("r15_occ_widen2")
    SinkOps.commitVersion(Seq((1L, 1)).toDF("id", "vint"), path2)
    val e = intercept[IllegalArgumentException] {
      SinkOps.widenVersionColumn(spark, path2, "vint", "bigint",
        maxTries = 3, beforeAttempt = a => if (a == 1) {
          SinkOps.widenVersionColumn(spark, path2, "vint", "bigint"); ()
        })
    }
    assert(e.getMessage.contains("already has type"))
  }

  test("OPTIMIZE races a commit and lands on retry with the racer's " +
      "rows IN the pack (re-resolved snapshot, never a lost update); " +
      "the stale pack is cleaned; budget exhaustion is loud") {
    val path = tmp("r15_occ_opt")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = SinkOps.compactVersions(spark, path,
      retries = 2,
      beforeAttempt = a => if (a == 1) {
        SinkOps.commitVersion(Seq((4L, "racer")).toDF("id", "s"),
          path); ()
      })
    assert(v == 5) // 3 commits + racer's v4 + the pack
    val head = SinkOps.readVersion(spark, path)
    assert(head.count() == 4, "racer's rows missing from the pack")
    assert(SinkOps.manifestLines(spark, path, v).size == 1,
      "pack manifest should hold exactly one dir")
    // The losing attempt's stale pack was deleted: data/ holds only
    // the 4 commit dirs + 1 winning pack.
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .length == 5, "stale pack left behind")
    // Budget exhaustion: every attempt loses → loud, not silent.
    val e = intercept[IllegalStateException] {
      SinkOps.compactVersions(spark, path,
        retries = 2,
        beforeAttempt = _ => {
          SinkOps.commitVersion(
            Seq((99L, "again")).toDF("id", "s"), path); ()
        })
    }
    assert(e.getMessage.contains("lost 2 version races"))
  }

  test("commitVersionChecked cleans its staged dir when the PUBLISH " +
      "phase fails (not just on constraint refusal) — no orphan " +
      "waiting on the VACUUM grace") {
    val path = tmp("r15_checked_cleanup")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // The batch passes the constraint check and is staged with its
    // stats, then a racer takes the version inside the publish window
    // and the single manifest attempt loses — a publish-phase failure.
    // (A nested stats column now refuses before anything is staged.)
    intercept[IllegalArgumentException] {
      SinkOps.commitVersion(Seq((2L, "b")).toDF("id", "s"), path,
        SinkOps.CommitSpec(stats = Seq("id"),
          constraints = Some(SinkOps.Constraints("id",
            Seq(QualityOps.NotNull("id")))),
          beforeAttempt = _ => {
            SinkOps.commitVersion(Seq((3L, "r")).toDF("id", "s"), path)
            ()
          }))
    }
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root,
      "data")).map(_.getPath.getName).toSeq.sorted
    assert(dirs == Seq("v1", "v2"),
      s"publish failure orphaned staging: $dirs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "stats")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(root, "stats")).isEmpty,
      "publish failure orphaned the staged stats sidecar")
    assert(SinkOps.readVersion(spark, path).count() == 2)
  }

  // ---- sidecar-served CDF attribution ----

  test("classifyChanges serves the insert/update split from bloom " +
      "sidecars — bloom-positive files only (files-probed < " +
      "files-total), split ≡ the full-scan twin") {
    val path = tmp("r15_cdf_bloom")
    val mk = (lo: Long, hi: Long) => (lo to hi)
      .map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(4, col("id"))
    SinkOps.commitVersion(mk(1L, 200L), path,
      SinkOps.CommitSpec(blooms = Seq("id")))
    SinkOps.commitVersion(mk(201L, 400L), path,
      SinkOps.CommitSpec(blooms = Seq("id")))
    val batch = ((150L to 160L) ++ (500L to 510L))
      .map(i => (i, s"new$i")).toDF("id", "s")
    val v3 = SinkOps.mergeVersion(batch, path, "id")
    val out = SinkOps.classifyChanges(spark, path, 2, v3, "id")
      .select("id", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 22)
    (150L to 160L).foreach(i => assert(out(i) == "update", s"id $i"))
    (500L to 510L).foreach(i => assert(out(i) == "insert", s"id $i"))
    // Economics: the prior-snapshot probe plans only bloom-positive
    // files for the 22 changed keys.
    val plan = SinkOps.planVersionWhere(spark, path,
      Seq(LongIn("id", ((150L to 160L) ++ (500L to 510L)).toSeq)), Some(2))
    val (kept, total) = (plan.files, plan.filesListed)
    assert(sidecarHeader(path, "blooms") == "id" && total == 8,
      s"fixture shape changed: $total files")
    assert(kept.size < total,
      s"no file skipped: ${kept.size} of $total")
  }

  test("classifyChanges falls back to the exact snapshot probe when " +
      "blooms are absent or on another column — same split") {
    val path = tmp("r15_cdf_nobloom")
    import spark.implicits._
    SinkOps.commitVersion((1L to 50L).map(i => (i, s"v$i"))
      .toDF("id", "s"), path)
    val batch = Seq((10L, "upd"), (99L, "new")).toDF("id", "s")
    val v2 = SinkOps.mergeVersion(batch, path, "id")
    val out = SinkOps.classifyChanges(spark, path, 1, v2, "id")
      .select("id", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(10L -> "update", 99L -> "insert"))
  }

  test("SQL maintenance verbs take RETRY n: ALTER/RESTORE/OPTIMIZE " +
      "parse and land, OPTIMIZE ... ZORDER BY included") {
    val path = tmp("r15_occ_sql")
    SinkOps.commitVersion(Seq((1L, 1)).toDF("id", "vint"), path)
    SinkOps.commitVersion(Seq((2L, 2)).toDF("id", "vint"), path)
    assert(spark.sql(s"ALTER TABLE graft_table('$path') ALTER " +
      "COLUMN vint TYPE BIGINT RETRY 2").collect().head.getInt(0) == 3)
    assert(spark.sql(s"ALTER TABLE graft_table('$path') RENAME " +
      "COLUMN vint TO vlong RETRY 1").collect().head.getInt(0) == 4)
    assert(spark.sql(s"OPTIMIZE graft_table('$path') RETRY 2")
      .collect().head.getInt(0) == 5)
    assert(spark.sql(s"RESTORE graft_table('$path') VERSION AS OF 4 " +
      "RETRY 1").collect().head.getInt(0) == 6)
    assert(spark.sql(s"OPTIMIZE graft_table('$path') ZORDER BY " +
      "(id, vlong) RETRY 2").collect().head.getInt(0) == 7)
    assert(SinkOps.readVersion(spark, path).count() == 2)
  }
}
