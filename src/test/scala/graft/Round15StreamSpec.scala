package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.ops.SinkOps

/** Round-15 specs: `readStream.format("graft")` — version-number
  * offsets, initial snapshot + incremental manifest-delta batches,
  * append-only refusals, rate limiting, exactly-once restart.
  */
class Round15StreamSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  import spark.implicits._

  test("graft stream: first batch is the snapshot, later batches are " +
      "the manifest deltas — streamed total ≡ batch head read") {
    val path = tmp("r15_stream_basic")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      path)
    SinkOps.commitVersion(Seq((3L, "c")).toDF("id", "s"), path)
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName("r15_gs_basic")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("r15_gs_basic").count() == 3,
        "initial snapshot batch wrong")
      SinkOps.commitVersion(Seq((4L, "d"), (5L, "e")).toDF("id", "s"),
        path)
      q.processAllAvailable()
      val got = spark.table("r15_gs_basic")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(1L, 2L, 3L, 4L, 5L)),
        s"streamed ≠ batch: ${got.mkString(",")}")
      // Streamed total ≡ the batch head read, the cross-surface pin.
      val batch = SinkOps.readVersion(spark, path)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(batch))
    } finally q.stop()
  }

  test("graft stream refuses a delete/DV commit in a window (append-" +
      "only contract) — loudly, not silently wrong") {
    val path = tmp("r15_stream_dv")
    SinkOps.commitVersion((1L to 6L).map(i => (i, s"s$i"))
      .toDF("id", "s"), path)
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName("r15_gs_dv")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("r15_gs_dv").count() == 6)
      SinkOps.deleteVersionKeys(Seq(2L).toDF("id"), path, "id")
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
      assert(msg != null && msg.contains("append-only"),
        s"wrong refusal: $msg")
    } finally q.stop()
  }

  test("graft stream maxVersionsPerTrigger bounds CATCH-UP batches " +
      "to N commits, but the INITIAL snapshot batch is never " +
      "rate-limited (r16: capping it would pin the baseline to an " +
      "early version a VACUUM may have expired)") {
    val path = tmp("r15_stream_rate")
    (1 to 4).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(path)
      .writeStream.format("memory").queryName("r15_gs_rate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("r15_gs_rate")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(1L, 2L, 3L, 4L)))
      // The 4 pre-existing commits arrive as ONE un-capped snapshot
      // batch — the initial load, exactly Delta semantics.
      assert(q.recentProgress.count(_.numInputRows > 0) == 1,
        s"initial snapshot was rate-limited: " +
          s"${q.recentProgress.length} batches")
      // Catch-up AFTER the baseline honors the cap: 3 new commits at
      // 1 version per trigger = 3 delta batches.
      (5 to 7).foreach { i =>
        SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
          path); ()
      }
      q.processAllAvailable()
      assert(spark.table("r15_gs_rate").count() == 7)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"rate limit not applied to catch-up: " +
          s"${q.recentProgress.length} batches")
    } finally q.stop()
  }

  test("graft stream restart from checkpoint resumes at the recorded " +
      "version offset — no duplicates, no gaps (exactly-once to a " +
      "file sink)") {
    val path = tmp("r15_stream_restart")
    val out = tmp("r15_stream_restart_out")
    val ckpt = tmp("r15_stream_restart_ckpt")
    SinkOps.commitVersion(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      path)
    def start() = spark.readStream.format("graft").load(path)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    SinkOps.commitVersion(Seq((3L, "c")).toDF("id", "s"), path)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L, 3L)),
      s"restart broke exactly-once: ${got.mkString(",")}")
  }

  // ---- writeStream.format("graft") (the sink half) ----

  test("graft sink: every micro-batch is one versioned commit; a " +
      "graft→graft pipe delivers the source table exactly once and " +
      "the sink table is time-travelable per batch") {
    val src = tmp("r15_sink_src")
    val dst = tmp("r15_sink_dst")
    val ckpt = tmp("r15_sink_ckpt")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        src); ()
    }
    // The sink appends to an EXISTING table — initialize with an
    // empty first commit (a typo'd sink path must never become a
    // silently new table, same loud contract as reads).
    SinkOps.commitVersion(Seq.empty[(Long, String)].toDF("id", "s"),
      dst)
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Commits AFTER the baseline snapshot arrive as capped delta
      // batches, each landing as its own sink commit.
      (4 to 5).foreach { i =>
        SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
          src); ()
      }
      q.processAllAvailable()
    } finally q.stop()
    val got = SinkOps.readVersion(spark, dst)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L, 3L, 4L, 5L)),
      s"pipe broke exactly-once: ${got.mkString(",")}")
    // Snapshot batch + 2 delta batches = ≥3 commits after the init
    // commit.
    assert(SinkOps.currentVersion(spark, dst) >= 4)
    // Early time travel shows fewer rows: history is per-batch.
    assert(SinkOps.readVersion(spark, dst, Some(2)).count() < 5)
  }

  test("graft sink is exactly-once under replay: a re-delivered " +
      "batchId is skipped (any-manifest reference check survives " +
      "compaction), and the crash window (dir on disk, no manifest) " +
      "recommits cleanly") {
    val dst = tmp("r15_sink_replay")
    SinkOps.commitVersion(Seq((0L, "init")).toDF("id", "s"), dst)
    val b = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(SinkOps.commitStreamBatch(b, dst,5).isDefined)
    // Replay: same batchId → skipped, table unchanged.
    assert(SinkOps.commitStreamBatch(b, dst,5).isEmpty)
    assert(SinkOps.readVersion(spark, dst).count() == 3)
    // Compaction packs the head; the pre-pack manifest still
    // references data/b5 until VACUUM expires it → replay still
    // skipped, no duplicate rows re-entering the packed table.
    SinkOps.compactVersions(spark, dst)
    assert(SinkOps.commitStreamBatch(b, dst,5).isEmpty)
    assert(SinkOps.readVersion(spark, dst).count() == 3)
    // Crash window: a batch dir on disk referenced by NO manifest is
    // the data-write-then-crash shape — the deterministic replay
    // overwrites and commits exactly once.
    val root = new org.apache.hadoop.fs.Path(dst)
    Seq((9L, "crash")).toDF("id", "s").write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, "data/b7").toString)
    assert(SinkOps.commitStreamBatch(
      Seq((9L, "crash")).toDF("id", "s"), dst,7).isDefined)
    assert(SinkOps.readVersion(spark, dst).count() == 4)
    assert(SinkOps.commitStreamBatch(
      Seq((9L, "crash")).toDF("id", "s"), dst,7).isEmpty)
  }

  test("graft sink refusals are loud: uninitialized target path, " +
      "partitionBy, non-append output mode; txnAppId namespaces " +
      "independent streams") {
    val dst = tmp("r15_sink_refuse")
    // Uninitialized sink target: loud at stream definition.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    val e = intercept[Exception] {
      mem.toDF().toDF("id", "s").writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", tmp("r15_sink_refuse_ck"))
        .outputMode("append").start()
    }
    assert(e.getMessage != null && e.getMessage.contains("no versions"),
      s"wrong refusal: ${e.getMessage}")
    // txnAppId: two logical streams share a table without batch-dir
    // collisions.
    SinkOps.commitVersion(Seq((0L, "init")).toDF("id", "s"), dst)
    val b1 = Seq((1L, "x")).toDF("id", "s")
    val b2 = Seq((2L, "y")).toDF("id", "s")
    assert(SinkOps.commitStreamBatch(b1, dst, 0, "sa").isDefined)
    assert(SinkOps.commitStreamBatch(b2, dst, 0, "sb").isDefined)
    assert(SinkOps.readVersion(spark, dst).count() == 3)
  }

  test("graft stream pins schema at start and a startingVersion " +
      "stream skips the already-consumed prefix") {
    val path = tmp("r15_stream_startv")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    SinkOps.commitVersion(Seq((2L, "b")).toDF("id", "s"), path)
    // startingVersion=1 (exclusive): only v2's delta arrives.
    val q = spark.readStream.format("graft")
      .option("startingVersion", "1").load(path)
      .writeStream.format("memory").queryName("r15_gs_startv")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("r15_gs_startv")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(2L)),
        s"startingVersion not honored: ${got.mkString(",")}")
    } finally q.stop()
  }
}
