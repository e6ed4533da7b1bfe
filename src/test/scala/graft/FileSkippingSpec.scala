package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.SinkOps
import graft.ops.SinkOps.SkipPred
import graft.ops.SinkOps.SkipPred._

/** The file-skipping planner (`SinkOps.planVersionWhere` /
  * `readVersionWhere`): one predicate type whose tier is picked from
  * the sidecars the table declares, so predicates of every tier and
  * kind compose in one plan, and the planner's loud refusals.
  */
class FileSkippingSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def events = Tables.events(spark, sfDir)
    .withColumn("ekey", concat(lit("k"), col("event_id")))

  private def micros = unix_micros(col("ts").cast("timestamp"))

  private def sameRows(got: DataFrame, want: DataFrame): Boolean = {
    val cols = Seq("event_id", "user_id", "event_type").map(col)
    val (g, w) = (got.select(cols: _*), want.select(cols: _*))
    g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty
  }

  /** Two hive-partitioned commits by event_type, range-clustered on ts
    * (tight per-file micros bounds), with `#tsus` stats on ts and a
    * `#str` bloom on ekey.
    */
  private def partitionedTable(name: String): String = {
    val t = tmp(name)
    (0 to 1).foreach { r =>
      SinkOps.commitVersion(
        events.filter(col("event_id") % 2 === r)
          .repartitionByRange(4, col("ts")),
        t,
        SinkOps.CommitSpec(layout = SinkOps.Partitioned(Seq("event_type")),
          stats = Seq("ts"), blooms = Seq("ekey"))); ()
    }
    t
  }

  test("partition In × micros range × string bloom In compose in one " +
      "plan: the read equals the full-scan filter, and the plan keeps " +
      "fewer files than any single predicate — with and without a " +
      "delete sidecar") {
    val t = partitionedTable("fs_compose")
    val b = events.agg(min(micros), max(micros)).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    // Probe keys: two rows matching every predicate (and surviving the
    // delete below), one outside the kept partitions and one far
    // outside the time range, so each single predicate keeps files the
    // others prune.
    val inRange = micros.between(lo, hi)
    val kept = col("event_type").isin("click", "view")
    def keyWhere(c: org.apache.spark.sql.Column, n: Int): Seq[String] =
      events.filter(c).orderBy("event_id").limit(n)
        .select("ekey").collect().map(_.getString(0)).toSeq
    val keys =
      keyWhere(kept && inRange && col("event_id") % 7 =!= 0, 2) ++
        keyWhere(col("event_type") === "signup" && inRange, 1) ++
        keyWhere(kept && micros > mn + 3 * (mx - mn) / 4, 1)
    assert(keys.size == 4, s"fixture lacks probe keys: $keys")
    val preds = Seq(StringIn("event_type", Seq("click", "view")),
      MicrosRange("ts", lo, hi), StringIn("ekey", keys))
    def check(stage: String): Unit = {
      val got = SinkOps.readVersionWhere(spark, t, preds)
      val want = SinkOps.readVersion(spark, t)
        .filter(kept && inRange && col("ekey").isin(keys: _*))
      assert(want.count() > 0, s"$stage: empty fixture result")
      assert(sameRows(got, want), s"$stage: composed read != full scan")
      val all = SinkOps.planVersionWhere(spark, t, preds)
      preds.foreach { p =>
        val one = SinkOps.planVersionWhere(spark, t, Seq(p))
        assert(all.filesKept < one.filesKept,
          s"$stage: composed plan kept ${all.filesKept} files, " +
            s"${p.productPrefix} alone ${one.filesKept}")
      }
      assert(all.leavesKept < all.leavesTotal,
        s"$stage: partition prune did not bite")
    }
    check("no DV")
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      t, "event_id")
    check("under a DV")
  }

  test("a zone-map range with no partition predicate serves a " +
      "partitioned table with stats: files skip inside every leaf and " +
      "the read equals the full-scan filter") {
    val t = partitionedTable("fs_range_parted")
    val b = events.agg(min(micros), max(micros)).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val range = Seq(MicrosRange("ts", mn, mn + (mx - mn) / 3))
    val plan = SinkOps.planVersionWhere(spark, t, range)
    assert(plan.leavesKept == plan.leavesTotal,
      "a range alone must not prune partition leaves")
    assert(plan.filesKept > 0 && plan.filesKept < plan.filesListed,
      s"no skip: ${plan.filesKept} of ${plan.filesListed}")
    val want = SinkOps.readVersion(spark, t)
      .filter(micros.between(mn, mn + (mx - mn) / 3))
    assert(sameRows(SinkOps.readVersionWhere(spark, t, range), want))
  }

  test("the flat file accessor refuses a DV-carrying manifest; the " +
      "epochs carry the sidecars instead") {
    val t = partitionedTable("fs_flat_dv")
    val point = Seq(StringIn("event_type", Seq("click")))
    val clean = SinkOps.planVersionWhere(spark, t, point)
    assert(clean.files.nonEmpty &&
      clean.files.forall(_.contains("event_type=click")))
    SinkOps.deleteVersionKeys(
      events.filter(col("event_id") % 7 === 0).select("event_id"),
      t, "event_id")
    val plan = SinkOps.planVersionWhere(spark, t, point)
    val e = intercept[IllegalArgumentException](plan.files)
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    assert(plan.epochs.exists(_.deletes.nonEmpty) &&
      plan.epochs.flatMap(_.files).toSet == clean.files.toSet)
  }

  test("loud refusals: empty ranges and value sets, no stats sidecar " +
      "in any dir, inconsistent sidecar columns across dirs, a " +
      "malformed bloom line, a long probe of a partition column") {
    def refuses(t: String, preds: SkipPred*)(msg: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        SinkOps.planVersionWhere(spark, t, preds)
      }
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val ev = events.limit(200)
    val t = tmp("fs_refuse")
    SinkOps.commitVersion(ev, t,
      SinkOps.CommitSpec(stats = Seq("event_id", "ekey", "ts")))
    refuses(t, LongRange("event_id", 5L, 4L))("empty predicate range")
    refuses(t, StringRange("ekey", "b", "a"))("empty predicate range")
    refuses(t, MicrosRange("ts", 5L, 4L))("empty predicate range")
    refuses(t, DateRange("d", java.time.LocalDate.of(2024, 1, 2),
      java.time.LocalDate.of(2024, 1, 1)))("empty predicate range")
    refuses(t, LongIn("event_id", Nil))("no values requested")
    refuses(t, StringIn("ekey", Nil))("no values requested")
    // Stats columns that differ across dirs.
    SinkOps.commitVersion(ev, t, SinkOps.CommitSpec(stats = Seq("user_id")))
    refuses(t, LongRange("event_id", 0L, 9L))(
      "inconsistent stats columns")

    val plain = tmp("fs_refuse_plain")
    SinkOps.commitVersion(ev, plain)
    refuses(plain, LongRange("event_id", 0L, 9L))(
      "no stats sidecar in any dir")
    refuses(plain, LongIn("event_id", Seq(1L)))(
      "no dir carries a bloom sidecar")

    val bl = tmp("fs_refuse_bloom")
    SinkOps.commitVersion(ev, bl,
      SinkOps.CommitSpec(blooms = Seq("event_id")))
    SinkOps.commitVersion(ev, bl,
      SinkOps.CommitSpec(blooms = Seq("user_id")))
    refuses(bl, LongIn("event_id", Seq(1L)))("inconsistent bloom columns")
    val bad = tmp("fs_refuse_badbloom")
    SinkOps.commitVersion(ev, bad,
      SinkOps.CommitSpec(blooms = Seq("event_id")))
    val sidecar = new java.io.File(bad, "blooms/v1.txt")
    new java.io.File(bad, "blooms/.v1.txt.crc").delete() // stale after edit
    val lines = scala.io.Source.fromFile(sidecar, "UTF-8")
    val kept = try lines.getLines().toList finally lines.close()
    java.nio.file.Files.write(sidecar.toPath,
      (kept :+ "part-x.parquet\tab\tcd").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    refuses(bad, LongIn("event_id", Seq(1L)))("malformed bloom line")

    val parted = partitionedTable("fs_refuse_parted")
    refuses(parted, LongIn("event_type", Seq(1L)))("probe with StringIn")
  }

  test("a column whose type changes between commits refuses both " +
      "predicate kinds, whichever dir is read first: the sidecars " +
      "agree on column names but not on kinds") {
    def refuses(t: String, p: SkipPred)(msg: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        SinkOps.planVersionWhere(spark, t, Seq(p))
      }
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val ev = events.limit(200)
    val asLong = ev.withColumn("ts", micros)
    val b = ev.agg(min(micros), max(micros)).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    // Plain-numeric stats then `#tsus` stats on ts, and the reverse.
    val longFirst = tmp("fs_kind_drift_long_first")
    SinkOps.commitVersion(asLong, longFirst,
      SinkOps.CommitSpec(stats = Seq("ts")))
    SinkOps.commitVersion(ev, longFirst,
      SinkOps.CommitSpec(stats = Seq("ts")))
    val tsFirst = tmp("fs_kind_drift_ts_first")
    SinkOps.commitVersion(ev, tsFirst,
      SinkOps.CommitSpec(stats = Seq("ts")))
    SinkOps.commitVersion(asLong, tsFirst,
      SinkOps.CommitSpec(stats = Seq("ts")))
    Seq(longFirst, tsFirst).foreach { t =>
      assert(sidecarHeader(t, "stats", 1) != sidecarHeader(t, "stats", 2))
      refuses(t, LongRange("ts", lo, hi))("tsus-kinded")
      refuses(t, MicrosRange("ts", lo, hi))("plain-numeric")
    }
    // A `#str` bloom then a numeric bloom on ekey, and the reverse.
    val asNum = ev.withColumn("ekey", col("event_id").cast("long"))
    val strFirst = tmp("fs_kind_drift_str_first")
    SinkOps.commitVersion(ev, strFirst,
      SinkOps.CommitSpec(blooms = Seq("ekey")))
    SinkOps.commitVersion(asNum, strFirst,
      SinkOps.CommitSpec(blooms = Seq("ekey")))
    val numFirst = tmp("fs_kind_drift_num_first")
    SinkOps.commitVersion(asNum, numFirst,
      SinkOps.CommitSpec(blooms = Seq("ekey")))
    SinkOps.commitVersion(ev, numFirst,
      SinkOps.CommitSpec(blooms = Seq("ekey")))
    Seq(strFirst, numFirst).foreach { t =>
      assert(sidecarHeader(t, "blooms", 1) != sidecarHeader(t, "blooms", 2))
      refuses(t, StringIn("ekey", Seq("k1")))("is numeric")
      refuses(t, LongIn("ekey", Seq(1L)))("string-typed")
    }
  }
}
