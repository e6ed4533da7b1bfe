package graft

import org.apache.spark.sql.functions._
import graft.ops.SinkOps
import graft.ops.SinkOps.SkipPred._

/** Specs for hive-partitioned versioned commits: partition-value
  * sidecars, dir-level + subtree-level pruning with zero IO for
  * skipped partitions, DV-aware epoch resolution, mixed
  * partitioned/unpartitioned tables, and the loud contracts (wrong
  * column, escape-needing values, empty batches).
  */
class Round13PartSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def events = Tables.events(spark, sfDir)

  test("partition-scoped read equals the full-scan filter on a mixed " +
      "table under a live DV, and plain readVersion still restores " +
      "the partition column") {
    val t = tmp("r13_part_mixed")
    // v1 partitioned, v2 UNpartitioned (mixed table), v3 partitioned,
    // v4 a delete sidecar scoping all three.
    SinkOps.commitVersion(
      events.filter(col("event_id") % 3 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(events.filter(col("event_id") % 3 === 1), t)
    SinkOps.commitVersion(
      events.filter(col("event_id") % 3 === 2), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      t, "event_id")

    val got = SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("event_type", Seq("click", "error"))))
      .select("event_id", "user_id", "event_type")
    val want = SinkOps.readVersion(spark, t)
      .filter(col("event_type").isin("click", "error"))
      .select("event_id", "user_id", "event_type")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "partition read != resolved full-scan filter")

    // Plain readVersion restores event_type from the directory names.
    val full = SinkOps.readVersion(spark, t)
    assert(full.columns.contains("event_type"))
    val nTypes = full.select("event_type").distinct().count()
    assert(nTypes >= 4, s"partition column lost on plain read: $nTypes")
  }

  test("planning is sidecar-only and the executed read lists no file " +
      "outside the kept partition subtrees (skipped partitions cost " +
      "zero IO)") {
    val t = tmp("r13_part_plan")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))

    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("signup"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty, "no unpartitioned dirs in this table")
    assert(kept == 2 && total == 10,
      s"expected 2 kept of 10 subdirs (5 types x 2 commits): " +
        s"$kept of $total")

    val files = SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("event_type", Seq("signup"))))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    files.foreach(f => assert(f.contains("event_type=signup"),
      s"read touched a file outside the kept partitions: $f"))
  }

  test("all partitions pruned yields an empty result with the table " +
      "schema; requesting values across epochs under carryForward " +
      "composes") {
    val t = tmp("r13_part_empty")
    SinkOps.commitVersion(
      events.filter(col("event_type") === "click"), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    val got = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("signup"))))
    assert(got.count() == 0)
    assert(got.columns.contains("event_type") &&
      got.columns.contains("event_id"))
  }

  test("time travel pins the partition read to the asked snapshot") {
    val t = tmp("r13_part_tt")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    val v1 = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("view"))), version = Some(1)).count()
    val v2 = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("view")))).count()
    val wantV1 = events.filter(col("event_id") % 2 === 0 &&
      col("event_type") === "view").count()
    val wantV2 = events.filter(col("event_type") === "view").count()
    assert(v1 == wantV1 && v2 == wantV2,
      s"time travel drifted: $v1/$wantV1 at v1, $v2/$wantV2 at head")
  }

  test("loud contracts: wrong partition column, empty value list, " +
      "escape-needing value, missing data column, empty batch") {
    val t = tmp("r13_part_loud")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("user_id", Seq("1")))).count()
    }
    // Since the round-14 spec-evolution tolerance the typo guard fires
    // one level up: the column is in NO dir's spec.
    assert(e1.getMessage.contains(
      "no partitioned dir of version 1") &&
      e1.getMessage.contains("user_id"))
    intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("event_type", Nil))).count()
    }
    val e3 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("event_type", Seq("a/b")))).count()
    }
    assert(e3.getMessage.contains("hive escaping"))
    intercept[IllegalArgumentException] {
      SinkOps.commitVersion(events, t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("no_such_col"))))
    }
    val e5 = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(
        events.filter(lit(false)), t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    }
    assert(e5.getMessage.contains("empty batch"))
  }

  test("nested (multi-column) partitioning: a conjunction over any " +
      "subset of the partition columns prunes leaves multiplicatively " +
      "and equals the full-scan filter; kept leaves carry both " +
      "matching fragments") {
    val t = tmp("r13_part_nested")
    val ev = events.withColumn("vbkt",
      (col("event_id") % 4).cast("string"))
    SinkOps.commitVersion(
      ev.filter(col("event_id") % 3 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
        "vbkt"))))
    SinkOps.commitVersion(
      ev.filter(col("event_id") % 3 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type",
        "vbkt"))))

    val preds = Seq(StringIn("event_type", Seq("click", "view")),
      StringIn("vbkt", Seq("1", "3")))
    val got = SinkOps.readVersionWhere(spark, t, preds)
      .select("event_id", "user_id")
    val want = ev.filter(col("event_id") % 3 =!= 2)
      .filter(col("event_type").isin("click", "view") &&
        col("vbkt").isin("1", "3"))
      .select("event_id", "user_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "nested conjunction read != full-scan filter")

    // A single-column predicate still prunes the nested layout: one
    // of 5 types x 4 buckets x 2 commits keeps 8 of 40 leaves.
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty && kept == 8 && total == 40,
      s"single-col prune over the nested layout: $kept of " +
        s"$total (whole=${whole.length})")
    plan.files.foreach(p => assert(p.contains("event_type=click"), p))

    // A predicate on a column the layout lacks fails loudly.
    val e = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("user_id", Seq("1")))).count()
    }
    // r14 spec-evolution tolerance: the refusal is the global
    // no-spec-carries-it guard, not a per-dir message.
    assert(e.getMessage.contains("carries predicate column user_id"))
  }

  test("metadata-only partition counts equal the grouped recount with " +
      "zero data-file IO, prune under predicates, and refuse DVs, " +
      "mixed flat dirs, and unmaterialized renames") {
    val t = tmp("r13_part_counts")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))

    val got = SinkOps.partCountsOnly(spark, t)
    val want = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "metadata counts != grouped recount")

    // Zero data IO: vanish every parquet file; counts still answer.
    val fs = fsOf(t)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(t, "data"), true)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) files += st.getPath
    }
    files.foreach(p => fs.rename(p,
      new org.apache.hadoop.fs.Path(p.toString + ".hidden")))
    val still = SinkOps.partCountsOnly(spark, t,
      Seq("event_type" -> Seq("click", "error")))
    assert(still.count() == 2, "pruned metadata count rows off")
    files.foreach(p => fs.rename(
      new org.apache.hadoop.fs.Path(p.toString + ".hidden"), p))

    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 11 === 0).select("event_id"),
      t, "event_id")
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.partCountsOnly(spark, t)
    }
    assert(e1.getMessage.contains("deletion vectors"))

    val t2 = tmp("r13_part_counts_mixed")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t2,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 1), t2)
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.partCountsOnly(spark, t2)
    }
    assert(e2.getMessage.contains("no parts sidecar"))
  }

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  test("partCountsDv: clean epochs answer from sidecars (their data " +
      "files can vanish), DV-scoped epochs pay the exact resolve, " +
      "and a DV-free table equals partCountsOnly") {
    val t = tmp("r13_part_cnt_dv")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    // DV-free: ≡ partCountsOnly.
    val a = SinkOps.partCountsDv(spark, t)
    val b = SinkOps.partCountsOnly(spark, t)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 11 === 0).select("event_id"),
      t, "event_id")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 1), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))

    // The v3 (clean-epoch) dir answers from its sidecar: vanish its
    // parquet files and the grouped counts still come out right.
    val fs = fsOf(t)
    val it = fs.listFiles(
      new org.apache.hadoop.fs.Path(t, "data/v3"), true)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) files += st.getPath
    }
    assert(files.nonEmpty)
    files.foreach(p => fs.rename(p,
      new org.apache.hadoop.fs.Path(p.toString + ".hidden")))
    val got = SinkOps.partCountsDv(spark, t)
    files.foreach(p => fs.rename(
      new org.apache.hadoop.fs.Path(p.toString + ".hidden"), p))

    val want = events.filter(
        (col("event_id") % 2 === 0 && col("event_id") % 11 =!= 0) ||
          col("event_id") % 2 === 1)
      .groupBy("event_type").agg(count(lit(1)).as("n_rows"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "DV-tolerant partition counts drifted from the resolved recount")
  }

  test("SQL INSERT ... PARTITIONED BY lands a partitioned commit " +
      "(pruned reads arm from a pure-SQL pipeline); stats columns and " +
      "PARTITIONED BY refuse to combine") {
    val t = tmp("r13_part_sql_insert")
    events.createOrReplaceTempView("r13part_events")
    val v = spark.sql(
      s"""INSERT INTO graft_table('$t') PARTITIONED BY (event_type)
          SELECT * FROM r13part_events WHERE event_id % 2 = 0""")
      .collect().head.getInt(0)
    assert(v == 1)
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("view"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty && kept == 1 && total == 5,
      s"SQL-written partition commit planned $kept of $total")
    val got = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("view")))).count()
    val want = events.filter(col("event_id") % 2 === 0 &&
      col("event_type") === "view").count()
    assert(got == want)
    // r16: stats columns COMPOSE with PARTITIONED BY — the SQL commit
    // lands both sidecars; naming a PARTITION column as a stats
    // column still refuses.
    val v2 = spark.sql(s"""INSERT INTO graft_table('$t', 'event_id')
        PARTITIONED BY (event_type)
        SELECT * FROM r13part_events WHERE event_id % 2 = 1""")
      .collect().head.getInt(0)
    assert(new java.io.File(t, f"stats/v$v2.txt").exists &&
      new java.io.File(t, f"parts/v$v2.txt").exists,
      "SQL PARTITIONED BY + stats columns did not land both sidecars")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"""INSERT INTO graft_table('$t', 'event_type')
          PARTITIONED BY (event_type)
          SELECT * FROM r13part_events""")
    }
    assert(e.getMessage.contains("is a partition column"))
  }

  test("OPTIMIZE preserves the partition layout: a mixed table with a " +
      "live DV compacts back into hive partitions (DVs purged, parts " +
      "sidecar refreshed), and the layout-flattening maintenance ops " +
      "refuse loudly") {
    val t = tmp("r13_part_opt")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(events.filter(col("event_id") % 2 === 1), t)
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 9 === 0).select("event_id"),
      t, "event_id")

    val e1 = intercept[IllegalArgumentException] {
      SinkOps.compactVersions(spark, t,
        SinkOps.Compaction.ZOrder(Seq("event_id", "user_id")))
    }
    assert(e1.getMessage.contains("ZORDER would flatten"))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.compactVersions(spark, t,
        SinkOps.Compaction.Full(Some("event_id")))
    }
    assert(e2.getMessage.contains("compact without statsCol"))

    SinkOps.compactVersions(spark, t)
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty,
      "compaction left flat dirs — partition layout not preserved")
    assert(kept == 1 && total == 5,
      s"compacted head should be one dir of 5 subtrees: " +
        s"$kept of $total")
    val got = SinkOps.readVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click")))).count()
    val want = events.filter(col("event_type") === "click" &&
      col("event_id") % 9 =!= 0).count()
    assert(got == want, s"post-OPTIMIZE partition read: $got vs $want")
  }

  test("mergeVersion follows the head's partition layout: the CDC " +
      "batch lands partitioned (planning stays all-partitioned), " +
      "updated rows read back through the pruned path, and statsCols " +
      "naming a partition column refuses (r16: stats on DATA columns " +
      "now compose with partitioning — both sidecars land)") {
    val t = tmp("r13_part_merge")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    val upd = events.filter(col("event_id") % 6 === 0)
      .withColumn("value", col("value") + 1000.0)
    // Stats on the PARTITION column refuse — the parts tier already
    // serves it exactly.
    val ePart = intercept[IllegalArgumentException] {
      SinkOps.mergeVersion(upd, t, "event_id",
        SinkOps.CommitSpec(stats = Seq("event_type")))
    }
    assert(ePart.getMessage.contains("is a partition column"))
    // Stats on a data column compose (r16): the merged partitioned
    // dir carries BOTH a parts and a stats sidecar.
    val vm = SinkOps.mergeVersion(upd, t, "event_id",
      SinkOps.CommitSpec(stats = Seq("event_id")))
    assert(new java.io.File(t, f"stats/v$vm.txt").exists,
      "merge into a partitioned head with statsCols wrote no stats " +
        "sidecar")
    assert(new java.io.File(t, f"parts/v$vm.txt").exists)
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click"))))
    val (_, _, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty,
      "merge landed a flat dir into a partitioned table")
    val got = SinkOps.readVersionWhere(spark, t,
        Seq(StringIn("event_type", Seq("click"))))
      .filter(col("event_id") % 6 === 0)
      .agg(min(col("value"))).head().getDouble(0)
    assert(got >= 1000.0, s"merged update not visible: min value $got")

    // A batch lacking the partition column refuses before writing.
    intercept[IllegalArgumentException] {
      SinkOps.mergeVersion(upd.drop("event_type"), t, "event_id")
    }
  }

  test("SQL UPDATE on a partitioned table keeps the layout (routes " +
      "through the layout-following merge)") {
    val t = tmp("r13_part_sql_update")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    events.createOrReplaceTempView("r13part_upd_events")
    spark.sql(
      s"""UPDATE graft_table('$t') SET value = value + 50.0
          WHERE event_id IN
          (SELECT event_id FROM r13part_upd_events
           WHERE event_id % 10 = 0)""")
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("click"))))
    val (_, _, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty,
      "SQL UPDATE landed a flat dir into a partitioned table")
    val got = SinkOps.readVersion(spark, t).count()
    assert(got == events.filter(col("event_id") % 2 === 0).count())
  }

  test("streaming partitioned sink: every streamed version carries a " +
      "parts sidecar and the head equals the one-batch write") {
    val t = tmp("r13_part_stream")
    val stage = tmp("r13_part_stream_stage")
    val b = events.agg(min("event_id"), max("event_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val latest = graft.streaming.StreamOps
      .versionedSinkReplay(events, t, stage, "event_id",
        Seq(lo + (hi - lo) / 2),
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    assert(latest.count() == events.count())
    assert(SinkOps.currentVersion(spark, t) == 2)
    val fs = fsOf(t)
    (1 to 2).foreach { v =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(t,
        s"parts/v$v.txt")), s"streamed v$v lacks a parts sidecar")
    }
    val plan = SinkOps.planVersionWhere(spark, t,
      Seq(StringIn("event_type", Seq("error"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty && kept == 2 && total == 10)
  }

  test("DESCRIBE HISTORY works on partitioned and mixed tables from " +
      "the parts sidecars (rows + files, zero data IO), OPTIMIZE " +
      "right-sizes to one file per partition, VACUUM sweeps the " +
      "parts sidecars with their dirs, and the changefeed tails " +
      "partitioned commits") {
    val t = tmp("r13_part_hist")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 1)
        .repartitionByRange(2, col("event_id")),
      t, SinkOps.CommitSpec(stats = Seq("event_id")))

    val hist = SinkOps.versionHistory(spark, t).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(hist(1) == events.filter(col("event_id") % 2 === 0).count(),
      "partitioned-dir history rows off")
    assert(hist(2) == events.count(), "mixed head history rows off")

    // Changefeed across a partitioned-commit window.
    val delta = SinkOps.readChanges(spark, t, 1, 2)
    assert(delta.count() ==
      events.filter(col("event_id") % 2 === 1).count())

    // OPTIMIZE converges the mixed table to the layout with ONE file
    // per partition (the compaction file-sizing contract).
    SinkOps.compactVersions(spark, t)
    val fs = fsOf(t)
    val it = fs.listFiles(
      new org.apache.hadoop.fs.Path(t, "data/v3"), true)
    var perPart = Map.empty[String, Int]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val frag = st.getPath.getParent.getName
        perPart = perPart.updated(frag, perPart.getOrElse(frag, 0) + 1)
      }
    }
    assert(perPart.size == 5 && perPart.values.forall(_ == 1),
      s"compacted layout not one file per partition: $perPart")

    // VACUUM: the expired partitioned dirs' parts sidecars GC too.
    assert(fs.exists(new org.apache.hadoop.fs.Path(t, "parts/v1.txt")))
    SinkOps.expireVersions(spark, t, keep = 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(t, "parts/v1.txt")),
      "VACUUM left an orphan parts sidecar")
    assert(fs.exists(new org.apache.hadoop.fs.Path(t, "parts/v3.txt")),
      "VACUUM swept the live head's parts sidecar")
    assert(SinkOps.readVersion(spark, t).count() == events.count())
  }

  test("a shallow clone inherits the partition sidecars: the clone's " +
      "partition read plans from the source's parts files") {
    val src = tmp("r13_part_clone_src")
    val dst = tmp("r13_part_clone_dst")
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0), src,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    SinkOps.cloneVersion(spark, src, dst)
    val got = SinkOps.readVersionWhere(spark, dst,
      Seq(StringIn("event_type", Seq("purchase")))).count()
    val want = events.filter(col("event_id") % 2 === 0 &&
      col("event_type") === "purchase").count()
    assert(got == want, s"clone partition read drifted: $got vs $want")
    val plan = SinkOps.planVersionWhere(spark, dst,
      Seq(StringIn("event_type", Seq("purchase"))))
    val (kept, total, whole) =
      (plan.leavesKept, plan.leavesTotal, flatFiles(plan))
    assert(whole.isEmpty && kept == 1 && total == 5,
      s"clone planned $kept of $total (whole=${whole.length})")
  }
}
