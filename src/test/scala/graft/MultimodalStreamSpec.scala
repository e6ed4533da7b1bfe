package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.{Asset, MultimodalOps}
import graft.streaming.StreamOps

class MultimodalStreamSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal: binary payload round-trips through typed decode") {
    val docs = Seq((0L, "abcd"), (1L, "xy"), (2L, "hello world!")).toDF("doc_id", "text")
    val assets = MultimodalOps.assets(docs).as[Asset]
    val feats = MultimodalOps.decodeFeatures(assets).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats.size === 3)
    assert(feats(0L).fmt === "png" && feats(1L).fmt === "jpg" && feats(2L).fmt === "wav")
    assert(feats(0L).n_bytes === 4L && feats(2L).n_bytes === 12L)
    // stub decode is deterministic from payload bytes
    assert(feats(0L).width === 16 + 'a' % 64)
    assert(feats(0L).height === 16 + 'b' % 64)
    assert(feats(1L).checksum === ('x'.toLong * 31 + 'y'))
  }

  test("multimodal: decode is a map-only plan (no shuffle)") {
    val docs = Tables.documents(spark, sfDir)
    val feats = MultimodalOps.decodeFeatures(MultimodalOps.assets(docs).as[Asset])
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(feats.count() === docs.count())
  }

  test("real PNG decode recovers exact dimensions and the planted pixel") {
    // ids chosen to hit width/height/pixel wrap-arounds: 0 → 1×1, 255 →
    // 16×16 px00=255, 256 → 1×2 px00=0, 4095 → 16×16 px00=255
    for (id <- Seq(0L, 7L, 255L, 256L, 300L, 4095L)) {
      val f = MultimodalOps.decodeImage(
        graft.ops.Asset(id, "png", MultimodalOps.syntheticPng(id)))
      assert(f.width === 1 + (id % 16).toInt, s"id=$id")
      assert(f.height === 1 + ((id / 16) % 16).toInt, s"id=$id")
      assert(f.checksum === id % 256, s"id=$id")
    }
  }

  test("imageAHash matches a raster-formula replica bit for bit") {
    // Local replica computes the fingerprint from the pixel FORMULA
    // (never touching PNG bytes); the operator must land on the same 64
    // bits from the real decode. ids cover 1×1, tiny, and 16×16 rasters.
    def px(id: Long, x: Long, y: Long): Long =
      if (x == 0 && y == 0) id % 256 else (id + 31 * x + 7 * y) % 256
    val ids = Seq(0L, 7L, 255L, 256L, 300L, 4095L)
    val got = MultimodalOps.imageAHash(ids.toDF("doc_id")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getLong(5)))).toMap
    for (id <- ids) {
      val w = 1 + id % 16
      val h = 1 + (id / 16) % 16
      val mean = (for (y <- 0L until h; x <- 0L until w) yield px(id, x, y))
        .sum / (w * h)
      val bits = (0 until 64).map { k =>
        if (px(id, (k % 8) * w / 8, (k / 8) * h / 8) > mean) 1 else 0
      }
      assert(got(id) === ((w, h, mean, bits.mkString, bits.sum.toLong)),
        s"id=$id")
    }
    // 1×1 raster: every grid sample IS the single pixel, never > mean.
    assert(got(0L)._4 === "0" * 64)
  }

  test("imageNearDupPairs: banded pairs equal the all-pairs Hamming scan " +
      "(pigeonhole exhaustive at <= 3); planted shifted twins found") {
    import spark.implicits._
    val base = (0L until 64L).toDF("doc_id")
    val fps = MultimodalOps.imageAHash(base)
      .unionByName(MultimodalOps.imageAHashShifted(base, 1000000L, 8))
      .select("asset_id", "ahash")
    val got = MultimodalOps.imageNearDupPairs(fps).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Reference: driver-side ALL-pairs Hamming <= 3 over the collected
    // fingerprints — the banding must lose nothing at this threshold.
    val fp = fps.collect().map(r => r.getLong(0) -> r.getString(1))
    val ref = (for {
      (a, ha) <- fp; (b, hb) <- fp if a < b
      d = ha.zip(hb).count { case (x, y) => x != y } if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(got === ref)
    // The brightness+8 perturbation leaves a good share of twins within
    // 3 bits (136/256 on the full slice); pin that the planted pair
    // channel is nonempty and every found pair is a verified distance.
    val planted = got.keys.filter { case (a, b) => b - a == 1000000L }
    assert(planted.nonEmpty)
    assert(got.values.forall(_ <= 3L))
  }

  test("imageNearDupIncremental equals the cross-boundary slice of the " +
      "full banded mine; twins caught only after append") {
    import spark.implicits._
    val base = (0L until 48L).toDF("doc_id")
    val fps = MultimodalOps.imageAHash(base).select("asset_id", "ahash")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_imgidx_spec").toString
    MultimodalOps.writeImageIndex(fps, idx)
    val arrivals = MultimodalOps.imageAHashShifted(base, 1000000L, 8)
      .select("asset_id", "ahash")
    // incremental ≡ full: per arrival, n_near equals the cross-boundary
    // pair count of the full banded mine over the union corpus.
    val incr = MultimodalOps.imageNearDupIncremental(arrivals, idx)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val full = MultimodalOps.imageNearDupPairs(fps.union(arrivals))
      .filter(col("asset_a") < 1000000L && col("asset_b") >= 1000000L)
      .groupBy("asset_b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr.keySet === (0L until 48L).map(_ + 1000000L).toSet)
    incr.foreach { case (id, (n, kept)) =>
      assert(n === full.getOrElse(id, 0L), s"arrival $id")
      assert(kept === (if (n == 0L) 1L else 0L), s"arrival $id")
    }
    // Exact twins (delta 0) share the fingerprint — always caught.
    val exact = MultimodalOps.imageAHashShifted(base, 2000000L, 0)
      .select("asset_id", "ahash")
    MultimodalOps.imageNearDupIncremental(exact, idx).collect()
      .foreach(r => assert(r.getLong(1) >= 1L && r.getLong(2) === 0L))
    // Append cycle: a twin of a NEW image is caught only after its
    // original's bands are appended.
    val fresh = MultimodalOps.imageAHashShifted(base.limit(1), 3000000L, 128)
      .select("asset_id", "ahash")
    val twin = MultimodalOps.imageAHashShifted(base.limit(1), 4000000L, 128)
      .select("asset_id", "ahash")
    val before = MultimodalOps.imageNearDupIncremental(twin, idx)
      .collect().head
    MultimodalOps.appendToImageIndex(fresh, idx)
    val after = MultimodalOps.imageNearDupIncremental(twin, idx)
      .collect().head
    assert(after.getLong(1) === before.getLong(1) + 1L)
    assert(after.getLong(2) === 0L)
  }

  test("imageRgbStats: each channel matches its own formula replica") {
    // Three independent per-channel replicas — the decode must keep the
    // bands apart (a gray-fused or band-swapped decode diverges).
    def px(ai: Long, bx: Long, by: Long, pl: Long)(id: Long, x: Long, y: Long): Long =
      if (x == 0 && y == 0) (pl * id) % 256 else (ai * id + bx * x + by * y) % 256
    val chans = Seq(px(1, 31, 7, 1) _, px(1, 13, 17, 7) _, px(3, 5, 11, 13) _)
    val ids = Seq(0L, 7L, 255L, 300L, 4095L)
    val got = MultimodalOps.imageRgbStats(ids.toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- ids) {
      val w = 1 + id % 16
      val h = 1 + (id / 16) % 16
      assert((got(id).getLong(1), got(id).getLong(2)) === ((w, h)), s"id=$id dims")
      for ((f, c) <- chans.zipWithIndex) {
        val mean = (for (y <- 0L until h; x <- 0L until w) yield f(id, x, y))
          .sum / (w * h)
        val bits = (0 until 64).map { k =>
          if (f(id, (k % 8) * w / 8, (k / 8) * h / 8) > mean) 1 else 0
        }
        val base = 3 + c * 3
        assert(got(id).getLong(base) === mean, s"id=$id chan=$c mean")
        assert(got(id).getString(base + 1) === bits.mkString, s"id=$id chan=$c bits")
        assert(got(id).getLong(base + 2) === bits.sum.toLong, s"id=$id chan=$c nset")
      }
    }
    // The channels genuinely differ on a non-degenerate raster.
    val r300 = got(300L)
    assert(Set(r300.getString(4), r300.getString(7), r300.getString(10)).size >= 2)
  }

  test("real JPEG decode recovers exact dims; planted pixel within lossy tolerance") {
    for (id <- Seq(0L, 7L, 255L, 256L, 300L, 4095L)) {
      val f = MultimodalOps.decodeImage(
        graft.ops.Asset(id, "jpg", MultimodalOps.syntheticJpeg(id)))
      assert(f.width === 1 + (id % 16).toInt, s"id=$id")
      assert(f.height === 1 + ((id / 16) % 16).toInt, s"id=$id")
      // JPEG is lossy: the planted (0,0) sample survives only
      // approximately (quantization over high-gradient tiny tiles).
      assert(math.abs(f.checksum - id % 256) <= 96, s"id=$id got ${f.checksum}")
    }
  }

  test("real WAV decode recovers exact PCM sample sums") {
    for (id <- Seq(0L, 1L, 127L, 128L, 255L, 4095L)) {
      val f = MultimodalOps.decodeWav(
        graft.ops.Asset(id, "wav", MultimodalOps.syntheticWav(id)))
      val n = 64 + (id % 128).toInt
      val expect = (0 until n).map(i =>
        ((id * 31 + i.toLong * 17) % 65536) - 32768).sum
      assert(f.n_samples === n.toLong, s"id=$id")
      assert(f.sample_rate === 8000 && f.channels === 1, s"id=$id")
      assert(f.sample_sum === expect, s"id=$id")
    }
  }

  test("real resize halves dimensions (floor, min 1) and re-decodes") {
    for (id <- Seq(0L, 7L, 255L, 33L)) {
      val a = graft.ops.Asset(id, "png", MultimodalOps.syntheticPng(id))
      val r = MultimodalOps.decodeImage(MultimodalOps.resizeImage(a, 2))
      assert(r.width === math.max(1, (1 + (id % 16).toInt) / 2), s"id=$id")
      assert(r.height === math.max(1, (1 + ((id / 16) % 16).toInt) / 2), s"id=$id")
    }
  }

  test("decodeResizeStats is map-side decode + one aggregation") {
    val docs = Seq((0L, "x"), (255L, "y"), (256L, "z")).toDF("doc_id", "text")
    val row = MultimodalOps.decodeResizeStats(docs).collect().head
    assert(row.getAs[Long]("n_assets") === 3L)
    assert(row.getAs[Long]("sum_width") === (1 + 0) + (1 + 15) + (1 + 0))
    // heights: id 0 → 1, id 255 → 16, id 256 → 1 (256/16 = 16 ≡ 0 mod 16)
    assert(row.getAs[Long]("sum_height") === (1 + 0) + (1 + 15) + (1 + 0))
    assert(row.getAs[Long]("sum_px00") === 0L + 255L + 0L)
    assert(row.getAs[Long]("sum_rwidth") === 1 + 8 + 1)
    assert(row.getAs[Long]("sum_rheight") === 1 + 8 + 1)
    val plan = MultimodalOps.decodeResizeStats(docs)
      .queryExecution.executedPlan.toString
    // decode never shuffles; the single exchange is the final aggregation
    assert("Exchange".r.findAllIn(plan).length <= 1, plan)
  }

  test("assetStats matches a hand computation") {
    val docs = Seq((0L, "abcd"), (3L, "efgh"), (1L, "xy")).toDF("doc_id", "text")
    val out = MultimodalOps.assetStats(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("png") === ((2L, 8L, 4.0)))
    assert(out("jpg") === ((1L, 2L, 2.0)))
  }

  test("MP4 demux round-trips every synthesized frame byte-for-byte") {
    import graft.ops.Mp4
    // id range covers 4..11 frames, i.e. 2..4 chunks at 3/chunk — both
    // the equal-chunks and smaller-tail stsc shapes
    for (id <- 0L to 16L) {
      val payload = Mp4.syntheticMp4(id)
      val t = Mp4.demux(payload)
      val expect = Mp4.synthFrames(id)
      assert(t.sampleSizes.length === expect.length)
      assert(t.timescale === Mp4.MediaTimescale)
      assert(t.durationTicks === expect.length * Mp4.FrameDelta)
      val got = Mp4.frames(Asset(id, "mp4", payload)).toSeq
      got.zip(expect).foreach { case (fr, ex) =>
        assert(fr.payload.toSeq === ex.toSeq, s"id=$id frame ${fr.frame_idx}")
      }
    }
  }

  test("MJPEG-in-MP4: extracted samples pixel-decode to the planted rasters") {
    import graft.ops.Mp4
    for (id <- 0L to 12L) {
      val payload = MultimodalOps.syntheticMjpegMp4(id)
      val frames = Mp4.frames(Asset(id, "mp4", payload)).toSeq
      assert(frames.length === MultimodalOps.mjpegFrameCount(id))
      frames.foreach { fr =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(fr.payload))
        assert(img != null, s"id=$id frame ${fr.frame_idx} undecodable")
        val i = fr.frame_idx
        assert(img.getWidth === 1 + ((id + i) % 16).toInt)
        assert(img.getHeight === 1 + (((id + i) / 16) % 16).toInt)
        // Lossy codec: the planted corner pixel survives within JPEG
        // quantization tolerance (same contract as the still-JPEG tier).
        val want = ((id + i * 13L) % 256).toInt
        val got = img.getRaster.getSample(0, 0, 0)
        assert(math.abs(got - want) <= 32, s"id=$id frame $i: $got vs $want")
      }
    }
  }

  test("MP4 demux fails loudly on corrupt containers") {
    import graft.ops.Mp4
    val good = Mp4.syntheticMp4(7L)
    // corrupt the top-level mdat box size
    val bad = good.clone()
    val ftypLen = java.nio.ByteBuffer.wrap(good, 0, 4).getInt
    bad(ftypLen) = 0x7f.toByte // absurd 4-byte size prefix
    intercept[IllegalArgumentException](Mp4.demux(bad))
    // truncated container
    intercept[Exception](Mp4.demux(good.take(good.length - 10)))
    // not a container at all
    intercept[Exception](Mp4.demux("plainly not an mp4".getBytes))
  }

  test("videoDemuxStats is map-side demux + one aggregation exchange") {
    val out = MultimodalOps.videoDemuxStats(Tables.documents(spark, sfDir))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 1, plan)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === 4 + id % 8)
      assert(r.getLong(4) === (4 + id % 8) * 3000)
    }
  }

  test("indexIngestReplay: a later micro-batch's twin is caught by the " +
      "in-stream index update") {
    import graft.ops.DedupOps
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mhidx_stream_spec").toString
    val staging = java.nio.file.Files
      .createTempDirectory("graft_mhidx_stage_spec").toString
    DedupOps.writeMinhashIndex(
      Seq((1L, "some entirely separate known corpus document"))
        .toDF("doc_id", "text"), idx)
    // Batch 0 (< 1M): a fresh doc. Batch 1 (>= 1M): its exact twin —
    // only catchable if batch 0's survivor was appended in-stream.
    val arrivals = Seq(
      (100L, "a brand new arriving document about spark internals"),
      (1000100L, "a brand new arriving document about spark internals"))
      .toDF("doc_id", "text")
    val got = graft.streaming.StreamOps
      .indexIngestReplay(arrivals, idx, staging, Seq(1000000L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(100L) === ((0L, 0L, 1L)))      // fresh: kept, appended
    assert(got(1000100L)._1 === 1L)           // twin: digest hit
    assert(got(1000100L)._2 >= 1L)            // and LSH neighbor
    assert(got(1000100L)._3 === 0L)           // dropped
  }

  test("embedIndexIngestReplay: a later micro-batch's vector twin is " +
      "caught by the in-stream index update") {
    import graft.ops.SimilarityOps
    val idx = java.nio.file.Files
      .createTempDirectory("graft_embidx_stream_spec").toString
    val staging = java.nio.file.Files
      .createTempDirectory("graft_embidx_stage_spec").toString
    val emb = Tables.embeddings(spark, sfDir)
    // Known corpus: one unrelated vector (the reversed vec 3).
    SimilarityOps.writeEmbedIndex(
      emb.filter(col("vec_id") === 3L)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
      idx)
    // Batch 0 (< 1M): corpus vector 11, fresh w.r.t. the index.
    // Batch 1 (>= 1M): its exact twin — only catchable if batch 0's
    // survivor was appended in-stream.
    val arrivals = emb.filter(col("vec_id") === 11L)
      .select("vec_id", "embedding")
      .union(emb.filter(col("vec_id") === 11L)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val got = graft.streaming.StreamOps
      .embedIndexIngestReplay(arrivals, idx, staging, Seq(1000000L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(11L) === ((0L, 1L)))        // fresh: kept, appended
    assert(got(1000011L)._1 >= 1L)         // twin: caught in-stream
    assert(got(1000011L)._2 === 0L)        // dropped
  }

  test("streaming sessionize matches the batch session_window result") {
    val base = 1700000000000L // epoch millis
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val rows = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(600), 10L, "view", 2.0),    // same session (10 min gap)
      (3L, ts(7800), 10L, "click", 4.0),  // new session (>30 min gap)
      (4L, ts(100), 20L, "view", 8.0)
    )
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val batch = StreamOps.sessionize(rows.toDF(cols: _*)).collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamOps.sessionize(mem.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sess_test").collect().toSet
      assert(streamed === batch)
      assert(streamed.size === 3)
    } finally q.stop()
  }

  test("sessionizeReplay over out-of-order micro-batches equals batch sessionize") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-replay").toString + "/staged"
    val streamed = StreamOps.sessionizeReplay(ev, staging).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = graft.ops.EventOps.sessionize(ev)
      .select("user_id", "start_us", "end_us", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("chainedWindowedReplay (two stateful aggs) equals the batch rollup") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-chained").toString + "/staged"
    val streamed = StreamOps.chainedWindowedReplay(ev, staging).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val inner = ev
      .select(col("event_type"),
        graft.ops.EventOps.microsOf(ev, "ts").as("tus"))
      .withColumn("iw", expr("(tus div 300000000L) * 300000000L"))
      .groupBy("event_type", "iw").agg(count(lit(1)).as("n"))
    val batch = inner
      .withColumn("w_start_us", expr("(iw div 1800000000L) * 1800000000L"))
      .groupBy("w_start_us", "event_type")
      .agg(sum("n").as("total"), max("n").as("peak"),
        count(lit(1)).as("n_inner"))
      .select("w_start_us", "event_type", "total", "peak", "n_inner")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("statefulReplay (sentinel-closed) equals batch session boundaries") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-sreplay").toString + "/staged"
    val streamed = StreamOps.statefulReplay(ev, staging).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ops.EventOps.sessionize(ev)
      .select("user_id", "start_us", "end_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("statefulXBatchReplay carries sessions across micro-batches, equals batch") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-xreplay").toString + "/staged"
    val streamed = StreamOps.statefulXBatchReplay(ev, staging).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ops.EventOps.sessionize(ev)
      .select("user_id", "start_us", "end_us", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // The staging really is multi-file (multi-micro-batch), time-sliced...
    val slices = new java.io.File(staging).listFiles()
      .filter(_.getName.startsWith("slice-")).sortBy(_.getName)
    assert(slices.length >= 2, "staging must fan out to multiple batches")
    val ranges = slices.map { f =>
      val mm = spark.read.parquet(f.getPath)
        .filter(col("event_id") =!= -1L)
        .agg(min("tus"), max("tus")).head
      if (mm.isNullAt(0)) None else Some((mm.getLong(0), mm.getLong(1)))
    }
    // ...slices are time-contiguous (no real-event overlap between files)
    ranges.flatten.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // ...and at least one session provably SPANS a slice boundary, i.e.
    // was carried in the state store between micro-batches.
    val boundaries = ranges.flatten.drop(1).map(_._1)
    assert(boundaries.exists(b =>
        streamed.exists { case (_, s, e, _) => s < b && b <= e }),
      "no session spans a micro-batch boundary — cross-batch state unexercised")
  }

  test("stateful sessionizer closes sessions on gap evidence across batches") {
    import graft.streaming.SessEvent
    val base = 1700000000000000L // epoch micros
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    val q = StreamOps.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("sess_state_test")
      .outputMode("append").start()
    try {
      // batch 1: user 10 gets two events 10 min apart (one open session)
      mem.addData(SessEvent(10L, base, 1.0),
        SessEvent(10L, base + 600L * 1000000, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_state_test").count() === 0) // still open
      // batch 2: an event 3 h later proves the gap → session 1 closes
      mem.addData(SessEvent(10L, base + 10800L * 1000000, 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess_state_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(rows.toSeq === Seq(
        (10L, base, base + 600L * 1000000, 2L, 3.0)))
    } finally q.stop()
  }

  test("stateful sessionizer merges and separates out-of-order cross-batch events") {
    import graft.streaming.SessEvent
    val base = 1700000000000000L // epoch micros
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    val q = StreamOps.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("sess_ooo_test")
      .outputMode("append").start()
    try {
      // batch 1: one event at base → watermark trails 1 h behind, so both
      // late events below (−600 s, −2000 s) stay inside the horizon
      mem.addData(SessEvent(10L, base, 1.0))
      q.processAllAvailable()
      // batch 2, out of order: one event 10 min BEFORE the open session's
      // start (merges backwards, start moves down) and one 3000 s before
      // (more than the 30-min gap older → its own earlier session, closed)
      mem.addData(SessEvent(10L, base - 600L * 1000000, 2.0),
        SessEvent(10L, base - 3000L * 1000000, 8.0))
      q.processAllAvailable()
      val rows = spark.table("sess_ooo_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      // the far-past event closed as a singleton session
      assert(rows.toSeq === Seq(
        (10L, base - 3000L * 1000000, base - 3000L * 1000000, 1L, 8.0)))
      // gap evidence closes the merged session: start must be the EARLIER tus
      mem.addData(SessEvent(10L, base + 100000L * 1000000, 4.0))
      q.processAllAvailable()
      val all = spark.table("sess_ooo_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(all.toSet.contains(
        (10L, base - 600L * 1000000, base, 2L, 3.0)))
    } finally q.stop()
  }

  test("dedupeStream drops duplicate ids within the watermark horizon") {
    val base = 1700000000000L
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamOps.dedupeStream(mem.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "view", 2.0))
      q.processAllAvailable()
      mem.addData((1L, ts(20), 1L, "click", 1.0)) // duplicate id, in horizon
      q.processAllAvailable()
      assert(spark.table("dedup_stream_test").count() === 2)
    } finally q.stop()
  }

  test("streaming windowed counts run incrementally with a watermark") {
    val base = 1700000000000L
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamOps.windowedCounts(mem.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("win_test")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(30), 1L, "click", 2.0))
      q.processAllAvailable()
      mem.addData((3L, ts(700), 1L, "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_test").collect()
        .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(rows("click") === ((2L, 3.0)))
      assert(rows("view") === ((1L, 4.0)))
    } finally q.stop()
  }

  test("frameSample emits every nth chunk; resize bounds payload size") {
    val a = Asset(7L, "wav", (0 until 1000).map(_.toByte).toArray)
    val frames = MultimodalOps.frameSampleStub(a, 256, 2).toList
    // chunks: 256,256,256,232 → sampled idx 0 and 2
    assert(frames.map(_.frame_idx) === List(0, 2))
    assert(frames.map(_.payload.length) === List(256, 256))
    val partial = MultimodalOps.frameSampleStub(
      Asset(8L, "wav", new Array[Byte](600)), 256, 2).toList
    assert(partial.map(_.frame_idx) === List(0, 2))
    assert(partial.map(_.payload.length) === List(256, 88))
    val r = MultimodalOps.resizeStub(a, 256)
    assert(r.payload.length <= 256 && r.payload(1) === a.payload(3))
    // typed pipeline end-to-end
    val ds = Seq(a).toDS()
    assert(MultimodalOps.frameSample(ds).count() === 2L)
    assert(MultimodalOps.resize(ds).head().payload.length <= 256)
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    val base = 1700000000000L
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = StreamOps.enrich(mem.toDF().toDF(cols: _*), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), 1L, "click", 1.0), (2L, ts(5), 9L, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
      assert(rows(1L) === "gold")
      assert(rows(2L) === null) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("upsertReplay folds micro-batches in log order; cross-batch latest wins") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // slice 0 (seq 1): update 2→b1, insert 3; slice 1 (seq 2): update
    // 2→b2 (must override b1 from the EARLIER batch), delete 1.
    val changes = Seq(
      (2L, "b1", "U", 1L), (3L, "c", "I", 1L),
      (2L, "b2", "U", 2L), (1L, "a", "D", 2L)
    ).toDF("k", "v", "op", "seq")
    val staging = java.nio.file.Files
      .createTempDirectory("graft-upsert").toString + "/staged"
    val got = StreamOps.upsertReplay(base, changes, "k", staging)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "b2"), (3L, "c")))
  }

  test("streamJoinReplay equals the batch interval join") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-jreplay").toString + "/staged"
    val lagUs = 3600L * 1000000L
    val streamed = StreamOps.streamJoinReplay(ev, staging, lagUs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        graft.ops.EventOps.microsOf(ev, "ts").as("a_us"))
    val b = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("u2"),
        graft.ops.EventOps.microsOf(ev, "ts").as("b_us"))
    val batch = a.join(b, col("user_id") === col("u2") &&
        col("b_us") >= col("a_us") && col("b_us") <= col("a_us") + lagUs)
      .select(col("view_id"), col("click_id"), col("user_id"),
        (col("b_us") - col("a_us")).as("dt_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  /** Slice files of a staging dir, by name: (name, mtime). */
  private def stagedSlices(dir: String): Seq[(String, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .map(f => f.getName -> f.lastModified()).sortBy(_._1)

  test("slice staging: one file per slice, ascending mtimes, flush slice " +
      "last, no build dir left") {
    val ev = Tables.events(spark, sfDir)
    val staging = java.nio.file.Files
      .createTempDirectory("graft-slices").toString + "/staged"
    assert(StreamOps.streamOuterJoinReplay(ev, staging).count() > 0)
    // four time slices plus the far-future flush slice; the listing is
    // the whole dir, so no _slice_build/_flush_build dir survives
    val idx = Seq(0, 1, 2, 3, 9998)
    val slices = stagedSlices(staging)
    assert(slices.map(_._1) === idx.map(i => f"slice-$i%04d.parquet"))
    assert(slices.map(_._2) === idx.map(StreamOps.SliceMtime0 + _ * 60000L))
    assert(slices.map(_._2).sliding(2).forall { case Seq(a, b) => a < b })

    // stream-join staging: each side's four slices, one file each, so
    // the micro-batch grouping is the same on every run
    val joinStaging = java.nio.file.Files
      .createTempDirectory("graft-join-slices").toString + "/staged"
    assert(StreamOps.streamJoinReplay(ev, joinStaging).count() > 0)
    for (side <- Seq("views", "clicks")) {
      val js = stagedSlices(s"$joinStaging/$side")
      assert(js.map(_._1) === (0 until 4).map(i => f"slice-$i%04d.parquet"))
      assert(js.map(_._2) ===
        (0 until 4).map(StreamOps.SliceMtime0 + _ * 60000L))
    }

    // id-range staging: one slice per boundary interval, each holding
    // exactly its interval's ids
    val docs = Seq((1L, "en", "hello world"), (2L, "en", "hello world"),
      (3L, "de", "hallo welt"), (4L, "de", "hallo welt"))
      .toDF("doc_id", "lang", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-idslices")
    val wpath = tmp.resolve("weights").toString
    graft.ops.TextStatsOps.trainWriteClassifier(docs, wpath)
    val arrivals = docs.union(
      docs.select((col("doc_id") + 100L).as("doc_id"), col("lang"), col("text")))
    val idStaging = tmp.resolve("staged").toString
    val bounds = Seq(2L, 100L)
    assert(StreamOps.classifierScoreReplay(arrivals, wpath, idStaging, bounds)
      .count() === 8)
    val idSlices = stagedSlices(idStaging)
    assert(idSlices.map(_._1) ===
      (0 to bounds.size).map(i => f"slice-$i%04d.parquet"))
    assert(idSlices.map(_._2).sliding(2).forall { case Seq(a, b) => a < b })
    val ids = idSlices.map { case (name, _) =>
      spark.read.parquet(s"$idStaging/$name").select("doc_id").as[Long]
        .collect().sorted.toSeq
    }
    assert(ids === Seq(Seq(1L), Seq(2L, 3L, 4L), Seq(101L, 102L, 103L, 104L)))
  }

  test("intervalJoin pairs within the lag, inclusive bounds, per key") {
    val base = 1700000000000L
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, Long, Timestamp)]
    val rmem = MemoryStream[(Long, Long, Timestamp)]
    val left = lmem.toDF().toDF("view_id", "user_id", "ts")
    val right = rmem.toDF().toDF("click_id", "r_user", "r_ts")
    val q = StreamOps.intervalJoin(left, right, "user_id", "r_user",
        maxLagUs = 10L * 1000000L, watermark = StreamOps.ReplayWatermark)
      .select("view_id", "click_id")
      .writeStream.format("memory").queryName("ij_test")
      .outputMode("append").start()
    try {
      // view 1 @t0: clicks at t0 (inclusive low), t10 (inclusive high),
      // t11 (out); click 40 arrives a batch EARLIER than its view —
      // buffered right-side state must still match. user 2 never pairs
      // (key mismatch).
      rmem.addData((40L, 1L, ts(10)))
      q.processAllAvailable()
      lmem.addData((1L, 1L, ts(0)), (2L, 2L, ts(0)))
      rmem.addData((41L, 1L, ts(0)), (42L, 1L, ts(11)), (43L, 3L, ts(5)))
      q.processAllAvailable()
      val got = spark.table("ij_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 40L), (1L, 41L)))
    } finally q.stop()
  }
}
