package graft

import org.apache.spark.sql.functions._
import graft.ops.SinkOps
import graft.ops.SinkOps.SkipPred._

/** Round-16 specs: micros/day-kinded zone maps, per-file stats inside
  * partitioned commits (partition prune × file skip), the CDF window
  * reader, the stream-sink zombie-replay guard + schema-on-write, the
  * advisor's per-leaf gauge, reserved kind-tag name guards, and the
  * calibration two-level rank plan shape.
  */
class Round16OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  import spark.implicits._

  private def events = Tables.events(spark, sfDir)

  private def firstLine(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().next() finally src.close()
  }

  // ---- micros timestamp (#tsus) zone maps ----

  test("#tsus zone maps: micros bounds in the sidecar, files-read < " +
      "files-total, read ≡ the full-scan micros filter, kind " +
      "mismatches refuse both ways, plain numeric sidecars untagged " +
      "(pre-r16 byte shape)") {
    val t = tmp("r16_tsus")
    (0 to 1).foreach { r =>
      SinkOps.commitVersion(
        events.filter(col("event_id") % 2 === r)
          .repartitionByRange(4, col("ts")),
        t, SinkOps.CommitSpec(stats = Seq("ts"))); ()
    }
    assert(firstLine(new java.io.File(t, "stats/v1.txt")) == "ts#tsus")
    // Micros granularity: at least one stored bound carries sub-second
    // precision (the pre-r16 seconds-floor cast could never).
    val cells = scala.io.Source.fromFile(
        new java.io.File(t, "stats/v1.txt"), "UTF-8").getLines().drop(1)
      .flatMap(_.split('\t').drop(1).dropRight(1)).filter(_.nonEmpty)
      .map(_.toLong).toSeq
    assert(cells.exists(_ % 1000000L != 0L),
      "every stored bound is second-aligned — micros were floored")
    val b = events.agg(
      min(unix_micros(col("ts").cast("timestamp"))),
      max(unix_micros(col("ts").cast("timestamp")))).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val micros = Seq(MicrosRange("ts", lo, hi))
    val plan = SinkOps.planVersionWhere(spark, t, micros)
    val (kept, total) = (plan.files, plan.filesListed)
    assert(firstLine(new java.io.File(t, "stats/v1.txt")) == "ts#tsus" &&
      total == 8)
    assert(kept.size < total, s"no skip: ${kept.size} of $total")
    val got = SinkOps.readVersionWhere(spark, t, micros)
      .select("event_id")
    val want = events.filter(
        unix_micros(col("ts").cast("timestamp")).between(lo, hi))
      .select("event_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "micros range read != full-scan filter")
    // Kind mismatches refuse both ways.
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t, Seq(LongRange("ts", lo, hi)))
        .collect()
    }
    assert(e1.getMessage.contains("tsus-kinded") &&
      e1.getMessage.contains("MicrosRange"))
    val tn = tmp("r16_tsus_num")
    SinkOps.commitVersion(events, tn,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    assert(firstLine(new java.io.File(tn, "stats/v1.txt")) == "event_id",
      "plain numeric stats header grew a tag — pre-r16 sidecars " +
        "must stay byte-identical")
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, tn,
        Seq(MicrosRange("event_id", lo, hi))).collect()
    }
    assert(e2.getMessage.contains("plain-numeric"))
    // Kinded columns refuse the exact metadata-agg surfaces.
    val e3 = intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, t).collect()
    }
    assert(e3.getMessage.contains("tsus"))
  }

  test("#day date zone maps: a DateType clustering column " +
      "stats-commits (DateType never long-casts — impossible " +
      "pre-r16) and range-reads by ISO date literals") {
    val t = tmp("r16_day")
    val ev = events.withColumn("d", col("ts").cast("date"))
    SinkOps.commitVersion(ev.repartitionByRange(4, col("d")), t,
      SinkOps.CommitSpec(stats = Seq("d")))
    assert(firstLine(new java.io.File(t, "stats/v1.txt")) == "d#day")
    val b = ev.agg(min("d"), max("d")).head()
    val (loD, hiD) = (b.getDate(0).toLocalDate, b.getDate(1).toLocalDate)
    val mid = loD.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(loD, hiD) / 2)
    val (lo, hi) = (loD.toString, mid.toString)
    val days = Seq(DateRange("d", loD, mid))
    val plan = SinkOps.planVersionWhere(spark, t, days)
    val (kept, total) = (plan.files, plan.filesListed)
    assert(kept.size < total, s"no skip: ${kept.size} of $total")
    val got = SinkOps.readVersionWhere(spark, t, days)
      .select("event_id")
    val want = ev.filter(col("d").between(to_date(lit(lo)),
      to_date(lit(hi)))).select("event_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "date range read != full-scan filter")
  }

  /** A refused commit left the table untouched: no head, and no data
    * dir or sidecar on disk.
    */
  private def assertUntouched(t: String): Unit = {
    assert(SinkOps.currentVersion(spark, t) == 0,
      "refused commit moved the head")
    Seq("data", "stats", "blooms", "manifest").foreach(k =>
      assert(!new java.io.File(t, k).exists, s"refused commit left $k/"))
  }

  test("stats/bloom column names ending in a reserved kind tag refuse " +
      "at write (a '#str'-named column would mis-key every read)") {
    val t = tmp("r16_tagname")
    val df = Seq((1L, "v")).toDF("id", "x#str")
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(df, t, SinkOps.CommitSpec(stats = Seq("x#str")))
    }
    assert(e1.getMessage.contains("reserved kind tag"))
    assertUntouched(t)
    val tb = tmp("r16_tagname_b")
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(df, tb,
        SinkOps.CommitSpec(blooms = Seq("x#str")))
    }
    assert(e2.getMessage.contains("reserved kind tag"))
    assertUntouched(tb)
  }

  test("an array-typed bloom column refuses before the commit publishes: " +
      "head 0, no data dir, no bloom sidecar") {
    val t = tmp("r16_bloom_array")
    val df = Seq((1L, Seq(1L, 2L))).toDF("id", "xs")
    val e = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(df, t, SinkOps.CommitSpec(blooms = Seq("xs")))
    }
    assert(e.getMessage.contains("point-lookup blooms need"), e.getMessage)
    assertUntouched(t)
  }

  // ---- per-file zone maps inside partitioned commits ----

  test("partition prune × per-file zone maps: both sidecars land, " +
      "files-kept < kept-leaf files < total, read ≡ the resolved " +
      "full-scan conjunction under a live DV, stat-less partitioned " +
      "dirs planned whole, a partition column as stats column refuses") {
    val t = tmp("r16_pstats")
    (0 to 1).foreach { r =>
      SinkOps.commitVersion(
        events.filter(col("event_id") % 2 === r)
          .repartitionByRange(4, col("event_id")),
        t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
          stats = Seq("event_id"))); ()
    }
    assert(new java.io.File(t, "stats/v1.txt").exists &&
      new java.io.File(t, "parts/v1.txt").exists,
      "partitioned commit with statsCols must land BOTH sidecars")
    // Stats entries are leaf-relative (fragment-prefixed).
    val entry = scala.io.Source.fromFile(
        new java.io.File(t, "stats/v1.txt"), "UTF-8")
      .getLines().drop(1).next()
    assert(entry.startsWith("event_type="),
      s"stats file field is not leaf-relative: $entry")
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      t, "event_id")
    val b = events.agg(min("event_id"), max("event_id")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val preds = Seq(StringIn("event_type", Seq("click", "view")),
      LongRange("event_id", lo, hi))
    val plan = SinkOps.planVersionWhere(spark, t, preds)
    val (fk, fl, lk, lt) = (plan.filesKept, plan.filesListed,
      plan.leavesKept, plan.leavesTotal)
    assert(lk < lt, s"partition prune did not bite: $lk of $lt leaves")
    assert(fk < fl,
      s"zone maps did not bite inside kept partitions: $fk of $fl")
    val got = SinkOps.readVersionWhere(spark, t, preds)
      .select("event_id", "user_id", "event_type")
    val want = SinkOps.readVersion(spark, t)
      .filter(col("event_type").isin("click", "view") &&
        col("event_id").between(lo, hi))
      .select("event_id", "user_id", "event_type")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "composed read != resolved full-scan conjunction")
    // A partitioned dir WITHOUT stats is planned whole — never a
    // wrong skip; equality still holds on the mixed table.
    SinkOps.commitVersion(
      events.filter(col("event_id") % 2 === 0)
        .withColumn("event_id", col("event_id") + lit(10000000L)),
      t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type"))))
    val got2 = SinkOps.readVersionWhere(spark, t, preds)
      .select("event_id", "user_id", "event_type")
    val want2 = SinkOps.readVersion(spark, t)
      .filter(col("event_type").isin("click", "view") &&
        col("event_id").between(lo, hi))
      .select("event_id", "user_id", "event_type")
    assert(got2.exceptAll(want2).isEmpty &&
      want2.exceptAll(got2).isEmpty,
      "stat-less partitioned dir broke the composed read")
    val e = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(events, tmp("r16_pstats_x"),
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
          stats = Seq("event_type")))
    }
    assert(e.getMessage.contains("is a partition column"))
  }

  test("partition prune × bloom point probe: leaf-relative bloom " +
      "bitmaps skip files inside kept partitions, string keys hash " +
      "through xxhash64, kind mismatch refuses, ≡ the full-scan " +
      "conjunction under a live DV") {
    val t = tmp("r16_pbloom")
    val ev = events.withColumn("ekey",
      concat(lit("k"), col("event_id")))
    SinkOps.commitVersion(ev.repartition(8), t,
      SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
        blooms = Seq("event_id", "ekey")))
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      t, "event_id")
    val probe = events.filter(col("event_type") === "click")
      .agg(min("event_id")).head().getLong(0)
    val part = StringIn("event_type", Seq("click", "view"))
    val point = Seq(part, LongIn("event_id", Seq(probe)))
    val plan = SinkOps.planVersionWhere(spark, t, point)
    val (fk, fl, lk, lt) = (plan.filesKept, plan.filesListed,
      plan.leavesKept, plan.leavesTotal)
    assert(lk < lt, s"partition prune did not bite: $lk of $lt")
    assert(fk < fl, s"bloom did not bite inside kept leaves: $fk of $fl")
    val got = SinkOps.readVersionWhere(spark, t, point)
      .select("event_id", "user_id", "event_type")
    val want = SinkOps.readVersion(spark, t)
      .filter(col("event_type").isin("click", "view") &&
        col("event_id") === probe)
      .select("event_id", "user_id", "event_type")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "composed bloom read != resolved full-scan conjunction")
    // String key: same probe through xxhash64 membership.
    val pointS = Seq(part, StringIn("ekey", Seq(s"k$probe")))
    val gotS = SinkOps.readVersionWhere(spark, t, pointS)
      .select("event_id", "user_id", "event_type")
    assert(gotS.exceptAll(want).isEmpty && want.exceptAll(gotS).isEmpty,
      "string bloom composed read != full-scan conjunction")
    val planS = SinkOps.planVersionWhere(spark, t, pointS)
    val (fkS, flS) = (planS.filesKept, planS.filesListed)
    assert(fkS < flS, s"string bloom did not bite: $fkS of $flS")
    // Kind mismatches refuse both ways.
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(part, LongIn("ekey", Seq(probe)))).collect()
    }
    assert(e1.getMessage.contains("string-typed"))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.readVersionWhere(spark, t,
        Seq(part, StringIn("event_id", Seq("42")))).collect()
    }
    assert(e2.getMessage.contains("numeric"))
    // Bloom on a partition column refuses at commit.
    val e3 = intercept[IllegalArgumentException] {
      SinkOps.commitVersion(ev, tmp("r16_pbloom_x"),
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
          blooms = Seq("event_type")))
    }
    assert(e3.getMessage.contains("is a partition column"))
  }

  // ---- CDF window reader ----

  test("readChangesCdf classifies a merge window exactly (pre/post " +
      "pairs, fresh inserts, delete pre-image rows), serves the " +
      "initial window as snapshot inserts, and refuses a compaction " +
      "rewrite and a key mismatch loudly") {
    val t = tmp("r16_cdf")
    SinkOps.commitVersion(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "s", "v"), t, SinkOps.CommitSpec(blooms = Seq("id")))
    SinkOps.mergeVersion(
      Seq((2L, "b2", 25.0), (9L, "z", 90.0)).toDF("id", "s", "v"),
      t, "id")
    SinkOps.deleteVersionKeys(Seq(1L).toDF("id"), t, "id")
    val ch = SinkOps.readChangesCdf(spark, t, 1, 3, "id")
      .select("id", "s", "v", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).toSet
    val expect = Set(
      (2L, "b", 20.0, "update_preimage", 2L),
      (2L, "b2", 25.0, "update_postimage", 2L),
      (9L, "z", 90.0, "insert", 2L),
      (1L, "a", 10.0, "delete", 3L))
    assert(ch == expect, s"CDF window mismatch: $ch")
    // Initial window (vFrom = 0): the folded head as inserts.
    val snap = SinkOps.readChangesCdf(spark, t, 0, 3, "id")
    assert(snap.filter(col("_change_type") =!= "insert").count() == 0)
    assert(snap.count() == 3) // ids 2, 3, 9 survive
    // SQL face: table_changes_cdf ≡ the Scala window read.
    graft.functions.GraftFunctions.register(spark)
    val sqlCh = spark.sql("SELECT id, s, v, _change_type, " +
        s"_commit_version FROM table_changes_cdf('$t', 1, 3, 'id')")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).toSet
    assert(sqlCh == expect, s"SQL CDF TVF mismatch: $sqlCh")
    // A compaction rewrite in the window refuses with a re-baseline
    // message — no row-level change a feed can express.
    SinkOps.compactVersions(spark, t) // v4
    val e1 = intercept[IllegalArgumentException] {
      SinkOps.readChangesCdf(spark, t, 3, 4, "id").collect()
    }
    assert(e1.getMessage.contains("rewrote data dirs"))
    val e2 = intercept[IllegalArgumentException] {
      SinkOps.readChangesCdf(spark, t, 1, 3, "s").collect()
    }
    assert(e2.getMessage.contains("keyColumn is s"))
  }

  test("readStream readChangeFeed=true needs keyColumn; keyColumn " +
      "alone refuses; a CDF stream over an append-only table streams " +
      "plain inserts") {
    val t = tmp("r16_cdf_opts")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), t)
    val e1 = intercept[IllegalArgumentException] {
      spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(t)
    }
    assert(e1.getMessage.contains("keyColumn"))
    val e2 = intercept[IllegalArgumentException] {
      spark.readStream.format("graft")
        .option("keyColumn", "id").load(t)
    }
    assert(e2.getMessage.contains("only meaningful"))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keyColumn", "id")
      .load(t)
      .writeStream.format("memory").queryName("r16_cdf_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      SinkOps.commitVersion(Seq((2L, "b")).toDF("id", "s"), t)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("r16_cdf_mem")
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set((1L, "insert", 1L), (2L, "insert", 2L)),
      s"append-only CDF stream mismatch: $rows")
  }

  // ---- stream sink hardening ----

  test("commitStreamBatch skips a zombie twin's replay INSIDE the OCC " +
      "loop — the batch dir is never appended twice (at-least-once " +
      "double-delivery closed)") {
    val t = tmp("r16_zombie")
    SinkOps.commitVersion(Seq((0L, "init")).toDF("id", "s"), t)
    val b = Seq((1L, "a")).toDF("id", "s")
    var fired = false
    val res = SinkOps.commitStreamBatch(b, t,3,
      beforeAttempt = n => {
        if (n == 1 && !fired) {
          fired = true
          // The zombie's twin incarnation lands the SAME batch between
          // this writer's version allocation and manifest attempt.
          assert(SinkOps.commitStreamBatch(b, t,3).isDefined)
        }
      })
    assert(res.isEmpty,
      "the losing incarnation must SKIP, not append the dir again")
    val refs = scala.io.Source.fromFile(
        new java.io.File(t, "manifest/v00002.txt"), "UTF-8")
      .getLines().count(_ == "data/b3")
    assert(refs == 1, s"head manifest references the batch dir $refs times")
    assert(SinkOps.readVersion(spark, t)
      .filter(col("id") === 1L).count() == 1)
  }

  test("graft sink enforces schema-on-write: a stream whose columns " +
      "do not match the target head refuses loudly at the first batch") {
    val src = tmp("r16_schema_src")
    val dst = tmp("r16_schema_dst")
    val ckpt = tmp("r16_schema_ckpt")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), src)
    SinkOps.commitVersion(Seq.empty[(Long, String)].toDF("id", "s"), dst)
    val q = spark.readStream.format("graft").load(src)
      .select(col("id").as("id_renamed"), col("s"))
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains("schema-on-write"),
      s"wrong refusal: $msg")
  }

  // ---- advisor per-leaf gauge ----

  test("advisor per-leaf file gauge: an accreting partitioned head " +
      "recommends optimize via max_leaf_files, the compacted table " +
      "re-advises none, and flat tables report 0") {
    val t = tmp("r16_advleaf")
    (0 to 4).foreach { r =>
      SinkOps.commitVersion(
        events.filter(col("event_id") % 5 === r), t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")))); ()
    }
    val adv = SinkOps.maintenanceAdvice(spark, t,
      targetRowsPerFile = 1L, maxFilesPerLeaf = 4).collect().head
    assert(adv.getAs[Long]("max_leaf_files") >= 5L,
      s"leaf gauge too low: ${adv.getAs[Long]("max_leaf_files")}")
    assert(adv.getAs[String]("recommendation") == "optimize")
    SinkOps.compactVersions(spark, t)
    val after = SinkOps.maintenanceAdvice(spark, t,
      targetRowsPerFile = 1L, maxFilesPerLeaf = 4).collect().head
    assert(after.getAs[String]("recommendation") == "none" &&
      after.getAs[Long]("max_leaf_files") <= 4L,
      s"post-OPTIMIZE gauges: $after")
    val tf = tmp("r16_advleaf_flat")
    SinkOps.commitVersion(events, tf,
      SinkOps.CommitSpec(stats = Seq("event_id")))
    assert(SinkOps.maintenanceAdvice(spark, tf).collect().head
      .getAs[Long]("max_leaf_files") == 0L)
  }

  // ---- calibration rank plan shape ----

  test("q_calibration ranks via the two-level bucket trick: no " +
      "unpartitioned window over a non-aggregated (corpus-sized) " +
      "input anywhere in its plan") {
    val df = SparkEntry.queries("q_calibration")(spark, sfDir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    wins.foreach { w =>
      val overAgg = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
      assert(overAgg,
        "unpartitioned window runs over a non-aggregated input — " +
          "the corpus-sized single-partition window is back")
    }
  }
}
