package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Opaque asset payload: binary blob + typed metadata. */
case class Asset(asset_id: Long, fmt: String, payload: Array[Byte])

/** Extracted per-asset features (decode output schema). */
case class AssetFeatures(asset_id: Long, fmt: String, n_bytes: Long,
                         width: Int, height: Int, checksum: Long)

/** One sampled frame of a (video-like) asset. */
case class Frame(asset_id: Long, frame_idx: Int, payload: Array[Byte])

/** Multimodal-column operators (north-star tier): treat image/audio/video
  * as opaque `binary` columns with typed metadata, and run decode /
  * feature-extraction as batched per-partition functions over a typed
  * Dataset — the Scala analogue of `mapInPandas` batch UDFs.
  *
  * Two decode tiers:
  *  - REAL codecs/parsers, all pure-JVM: PNG decode/resize via
  *    `javax.imageio` (`q_multimodal_decode`: closed-form dimensions +
  *    a planted pixel, losslessly round-tripped), JPEG decode via the
  *    same API (`q_multimodal_jpeg`: lossy, dimensions exact), WAV PCM
  *    decode via `javax.sound.sampled` (`q_multimodal_wav`: exact
  *    sample sums), and ISO BMFF (MP4) CONTAINER demux via [[Mp4]]
  *    (`q_multimodal_video`: frames extracted at sample-table-derived
  *    offsets, byte sums over the extracted slices).
  *  - A STUB path (`decodeStub`/`resizeStub`) for the codec layers the
  *    JDK genuinely does not ship (video PIXEL decode, modern
  *    image/audio formats): deterministic fakes that keep the
  *    Dataset[Asset] → Dataset[AssetFeatures] partition-batched
  *    plumbing testable; a production codec (e.g. ffmpeg bindings)
  *    replaces only the body.
  *
  * At 100 TB decode/resize is pure map-side work (no shuffle); only the
  * final aggregates exchange data.
  */
object MultimodalOps {

  // Raster-only AWT use works without a display; pinned for safety.
  System.setProperty("java.awt.headless", "true")

  /** Derive a deterministic asset table from `documents`: the text bytes
    * stand in for an encoded media payload; the format tag cycles by id.
    */
  def assets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("asset_id"),
      element_at(array(lit("png"), lit("jpg"), lit("wav")),
        (col("doc_id") % 3 + 1).cast("int")).as("fmt"),
      col("text").cast("binary").as("payload"))

  /** STUB decoder — deterministic fake in lieu of a real codec.
    * A production build replaces only the body (e.g. javax.imageio /
    * ffmpeg bindings); signature and batch shape stay identical.
    */
  def decodeStub(a: Asset): AssetFeatures = {
    val n = a.payload.length.toLong
    // Fake dimensions derived from leading payload bytes; checksum is a
    // cheap rolling byte hash — all reproducible from the blob alone.
    val b0 = if (n > 0) a.payload(0) & 0xff else 0
    val b1 = if (n > 1) a.payload(1) & 0xff else 0
    val sum = a.payload.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))
    AssetFeatures(a.asset_id, a.fmt, n, 16 + b0 % 64, 16 + b1 % 64, sum)
  }

  /** Batched decode over partitions: one decoder instance per partition
    * (where a real codec would allocate its native context once), then a
    * per-record map — the mapInPandas batch pattern, typed.
    */
  def decodeFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition setup hook for a real codec would go here
      it.map(decodeStub)
    }
  }

  /** STUB resize — deterministic byte downsample standing in for an image
    * rescale: keep every stride-th payload byte until `targetBytes`. A
    * production build swaps the body for a real rescaler; the typed
    * map-partition shape (pure map-side, no shuffle) is unchanged.
    */
  def resizeStub(a: Asset, targetBytes: Int): Asset = {
    val n = a.payload.length
    if (n <= targetBytes) a
    else {
      val stride = math.max(1, n / targetBytes)
      val out = a.payload.indices.collect {
        case i if i % stride == 0 => a.payload(i)
      }.take(targetBytes).toArray
      Asset(a.asset_id, a.fmt, out)
    }
  }

  def resize(assets: Dataset[Asset], targetBytes: Int = 256): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(it => it.map(resizeStub(_, targetBytes)))
  }

  /** STUB frame sampler — fixed-size payload chunks stand in for video
    * frames; every `everyNth` chunk is emitted. The 1→N typed flatMap is
    * the real distributed shape (map-side fan-out, no shuffle); the real
    * demuxer counterpart is [[Mp4.frames]] (container-level offsets, see
    * videoDemuxStats). Deterministic from the blob alone, so the
    * aggregate over its output is oracle-checkable in closed form.
    */
  def frameSampleStub(a: Asset, chunkBytes: Int, everyNth: Int): Iterator[Frame] =
    a.payload.grouped(chunkBytes).zipWithIndex
      .filter(_._2 % everyNth == 0)
      .map { case (bytes, i) => Frame(a.asset_id, i, bytes) }

  def frameSample(assets: Dataset[Asset], chunkBytes: Int = 256,
                  everyNth: Int = 2): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.flatMap(frameSampleStub(_, chunkBytes, everyNth))
  }

  /** Per-asset aggregate over the sampled frames: the q_frame_sample
    * query surface — the typed flatMap pipeline feeding a relational
    * aggregation, verified against a closed-form SQL oracle.
    */
  def frameSampleStats(docs: DataFrame, chunkBytes: Int = 256,
                       everyNth: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    frameSample(assets(docs).as[Asset], chunkBytes, everyNth)
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(octet_length(col("payload"))).cast("long").as("sampled_bytes"))
  }

  // ---- real PNG decode tier (javax.imageio, JDK-native) ----

  /** Deterministic w×h 8-bit grayscale raster for a doc id: w = 1 + id
    * mod 16, h = 1 + (id div 16) mod 16, pixel (0,0) = id mod 256 and a
    * deterministic gradient elsewhere. SHARED oracle contract of the PNG
    * and JPEG tiers — both closed-form oracles encode these formulas, so
    * the raster must never fork per format.
    */
  private def syntheticGrayImage(docId: Long): java.awt.image.BufferedImage = {
    val w = 1 + (docId % 16).toInt
    val h = 1 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0, ((docId + x * 31L + y * 7L) % 256).toInt)
    raster.setSample(0, 0, 0, (docId % 256).toInt)
    img
  }

  /** Deterministic synthetic PNG payload: a REAL PNG encoding of the
    * shared gray raster. Gray-8 PNG round-trips pixels losslessly, so
    * decoded dimensions AND the planted pixel are closed-form functions
    * of the id — which is what makes the decode tier oracle-checkable
    * without shipping image fixtures.
    */
  def syntheticPng(docId: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(syntheticGrayImage(docId), "png", bos)
    bos.toByteArray
  }

  /** Asset table with real PNG payloads, one per document id. */
  def pngAssets(docs: DataFrame): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map(id => Asset(id, "png", syntheticPng(id))))
  }

  /** Parse a payload with javax.imageio, failing loudly on an
    * undecodable blob (a silent null would turn a corrupt-blob bug into
    * wrong aggregates downstream).
    */
  private def readImg(a: Asset): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(a.payload))
    require(img != null, s"asset ${a.asset_id}: undecodable ${a.fmt} payload")
    img
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Downscale to (max(1, w div factor), max(1, h div factor)) via an
    * AWT raster draw — output dimensions exact by construction.
    */
  private def resizeRaster(img: java.awt.image.BufferedImage,
                           factor: Int): java.awt.image.BufferedImage = {
    val tw = math.max(1, img.getWidth / factor)
    val th = math.max(1, img.getHeight / factor)
    val out = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = out.createGraphics()
    g.drawImage(img, 0, 0, tw, th, null)
    g.dispose()
    out
  }

  private def features(a: Asset,
                       img: java.awt.image.BufferedImage): AssetFeatures =
    AssetFeatures(a.asset_id, a.fmt, a.payload.length.toLong,
      img.getWidth, img.getHeight, img.getRaster.getSample(0, 0, 0).toLong)

  /** REAL image decode: actual width/height and the (0,0) pixel sample
    * as the checksum.
    */
  def decodeImage(a: Asset): AssetFeatures = features(a, readImg(a))

  /** Batched real decode — same partition-batched shape as
    * decodeFeatures, with an actual codec in the body.
    */
  def decodeImages(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(decodeImage))
  }

  /** REAL image resize: decode, downscale, re-encode as PNG. The output
    * dimensions are exact by construction (the target raster is
    * allocated at the computed size), so a decode-after-resize is
    * closed-form checkable.
    */
  def resizeImage(a: Asset, factor: Int = 2): Asset =
    Asset(a.asset_id, a.fmt, encodePng(resizeRaster(readImg(a), factor)))

  /** The q_multimodal_decode query surface: synthesize real PNGs, run the
    * real decode AND the real resize→decode pipeline in one map-side
    * pass, aggregate dimensions + the planted (0,0) pixel. Every output
    * is a closed-form function of doc_id, so the DuckDB oracle verifies
    * that actual image decoding — not header arithmetic — produced the
    * numbers. One aggregation exchange; decode work never shuffles.
    */
  def decodeResizeStats(docs: DataFrame, factor: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    pngAssets(docs).mapPartitions { it =>
      it.map { a =>
        // decode once, resize from the already-decoded raster, and
        // re-decode only the resized PNG (the re-encode evidence)
        val img = readImg(a)
        val f = features(a, img)
        val r = decodeImage(
          Asset(a.asset_id, a.fmt, encodePng(resizeRaster(img, factor))))
        (a.asset_id, f.width.toLong, f.height.toLong, f.checksum,
          r.width.toLong, r.height.toLong)
      }
    }.toDF("asset_id", "width", "height", "px00", "rwidth", "rheight")
      .agg(count(lit(1)).as("n_assets"),
        sum("width").as("sum_width"), sum("height").as("sum_height"),
        sum("px00").as("sum_px00"),
        sum("rwidth").as("sum_rwidth"), sum("rheight").as("sum_rheight"))
  }

  /** PNG METADATA via chunk walk — header extraction WITHOUT decode:
    * signature check, then the container walk (4-byte big-endian
    * length, 4-byte type, data, CRC32 per chunk), IHDR fields (width,
    * height, bit depth, color type) read straight from bytes, every
    * chunk's CRC32 recomputed and verified. This is the cheap half of
    * a 100 TB image pipeline: dimension/format filters and corruption
    * triage run over headers at ~after-the-first-KB cost, and only
    * survivors pay the full pixel decode ([[decodeImages]]) — the
    * classic scan-cheap-then-decode-expensive split. Returns
    * (width, height, bit_depth, color_type, crc_ok); malformed
    * payloads (bad signature, missing IHDR, truncated chunk) fail
    * loudly — the [[readImg]] corrupt-blob contract.
    */
  def pngMetaOf(payload: Array[Byte]): (Int, Int, Int, Int, Boolean) = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    require(payload.length > 8 && payload.take(8).sameElements(sig),
      "not a PNG: bad signature")
    def be32(o: Int): Long =
      ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
        ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
    var off = 8
    var crcOk = true
    var w = 0; var h = 0; var bd = 0; var ct = 0
    var first = true
    var sawEnd = false
    while (!sawEnd) {
      require(off + 12 <= payload.length, "truncated PNG chunk header")
      val len = be32(off).toInt
      require(off + 12 + len <= payload.length, "truncated PNG chunk data")
      val typ = new String(payload, off + 4, 4, "US-ASCII")
      if (first) {
        require(typ == "IHDR", s"first chunk $typ, expected IHDR")
        w = be32(off + 8).toInt
        h = be32(off + 12).toInt
        bd = payload(off + 16) & 0xff
        ct = payload(off + 17) & 0xff
        first = false
      }
      val crc = new java.util.zip.CRC32()
      crc.update(payload, off + 4, 4 + len)
      crcOk &&= crc.getValue == be32(off + 8 + len)
      if (typ == "IEND") sawEnd = true else off += 12 + len
    }
    (w, h, bd, ct, crcOk)
  }

  /** The q_image_meta query surface: synthesize real PNGs, parse
    * metadata by chunk walk only — javax.imageio is never called, so
    * the closed-form oracle (dims from the raster formulas, gray-8
    * color type, all CRCs valid) passing proves the byte-level parse,
    * not a decoder, produced the numbers. Pure map-side; zero
    * exchange.
    */
  def imageMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    pngAssets(docs).mapPartitions(_.map { a =>
      val (w, h, bd, ct, ok) = pngMetaOf(a.payload)
      (a.asset_id, w.toLong, h.toLong, bd.toLong, ct.toLong,
        if (ok) 1L else 0L)
    }).toDF("asset_id", "width", "height", "bit_depth", "color_type",
      "crc_ok")
  }

  /** Perceptual average-hash (aHash) over REAL decoded PNG pixels — the
    * standard near-duplicate image fingerprint: sample the decoded
    * raster on a fixed 8×8 nearest-neighbor grid (sx = gx·w div 8,
    * sy = gy·h div 8), threshold each sample against the image's floor
    * integer mean, pack the 64 bits row-major. The fingerprint is
    * emitted as a 64-char bitstring plus its popcount — strings diff
    * by Hamming distance downstream exactly like packed ints, and the
    * bitstring keeps every per-bit decision visible to the oracle
    * (and clear of int64's bit-63 sign trap).
    *
    * Scale shape: pure map-side work — decode + 64 samples + mean per
    * asset inside one mapPartitions (the codec tier's only sanctioned
    * imperative island); no exchange at all until a consumer
    * aggregates. Every output is integer-exact, so the DuckDB oracle
    * regenerates the synthetic raster closed-form and must land on the
    * identical 64 bits — proving real pixel decode, not header math.
    */
  def imageAHash(docs: DataFrame): DataFrame = imageAHashShifted(docs, 0L, 0)

  /** [[imageAHash]] over BRIGHTNESS-SHIFTED copies of the decoded
    * rasters — the deterministic near-duplicate generator of the image
    * tier: every decoded sample becomes (sample + delta) mod 256 before
    * the mean/threshold pass, and asset ids shift by `idOffset` into
    * their own slice. A small delta preserves most threshold decisions
    * (mean and samples shift together except at the mod-256 wrap), so
    * the variant lands within a few Hamming bits of its original —
    * exactly the perturbation class aHash is designed to absorb.
    * delta = 0, idOffset = 0 IS the base fingerprint path.
    */
  def imageAHashShifted(docs: DataFrame, idOffset: Long,
                        delta: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val r = aHashOf(readImg(Asset(id, "png", syntheticPng(id))), delta)
        (id + idOffset, r._1, r._2, r._3, r._4, r._5)
      })
      .toDF("asset_id", "w", "h", "mean_px", "ahash", "n_set")
  }

  /** The aHash body over a decoded raster — shared by the plain,
    * shifted, and metadata-gated fingerprint paths.
    */
  private def aHashOf(img: java.awt.image.BufferedImage,
                      delta: Int): (Long, Long, Long, String, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    def px(x: Int, y: Int): Long =
      (raster.getSample(x, y, 0).toLong + delta) % 256
    var psum = 0L
    for (y <- 0 until h; x <- 0 until w)
      psum += px(x, y)
    val mean = psum / (w.toLong * h)
    val bits = new StringBuilder(64)
    var nSet = 0L
    for (k <- 0 until 64) {
      val sx = (k % 8) * w / 8
      val sy = (k / 8) * h / 8
      val bit = if (px(sx, sy) > mean) 1 else 0
      nSet += bit
      bits.append(bit)
    }
    (w.toLong, h.toLong, mean, bits.toString, nSet)
  }

  /** Metadata gate and pixel decode FUSED into one pass — the
    * production form of the scan-cheap/decode-expensive split
    * (q_image_pipeline): per asset, the byte-level chunk walk
    * ([[pngMetaOf]]) decides admission (CRCs valid, w·h ≥ minPixels)
    * for the cost of reading a header, and ONLY survivors pay the
    * full pixel decode + aHash fingerprint. One mapPartitions, no
    * second scan, no join: at 100 TB the gate prunes decode work
    * in-place instead of materializing an intermediate admitted set.
    * Oracle: the aHash oracle restricted to the closed-form gate
    * predicate — proving the gate filtered BEFORE fingerprints, not
    * after.
    */
  def imageGatedAHash(docs: DataFrame, minPixels: Long = 64L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        val payload = syntheticPng(id)
        val (w, h, _, _, crcOk) = pngMetaOf(payload)
        if (!crcOk || w.toLong * h < minPixels) Iterator.empty
        else {
          val r = aHashOf(readImg(Asset(id, "png", payload)), 0)
          Iterator.single((id, r._1, r._2, r._3, r._4, r._5))
        }
      })
      .toDF("asset_id", "w", "h", "mean_px", "ahash", "n_set")
  }

  /** dHash (difference hash) fingerprints — the gradient companion to
    * [[imageAHash]]: bit (i, j) compares two ADJACENT grid samples on
    * row i (px at column j+1 vs column j of a 9-wide × 8-tall sample
    * grid) instead of sample-vs-mean, so the fingerprint captures
    * horizontal gradient direction and is invariant to global
    * brightness shifts (where aHash flips bits at the mean boundary).
    * Same scale shape as aHash: decode + 64 comparisons per asset
    * inside one mapPartitions, no exchange; integer-exact, closed-form
    * DuckDB oracle over the regenerated raster.
    */
  def imageDHash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val img = readImg(Asset(id, "png", syntheticPng(id)))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        def px(x: Int, y: Int): Long = raster.getSample(x, y, 0).toLong
        val bits = new StringBuilder(64)
        var nSet = 0L
        for (k <- 0 until 64) {
          val j = k % 8
          val y = (k / 8) * h / 8
          val x0 = j * w / 9
          val x1 = (j + 1) * w / 9
          val bit = if (px(x1, y) > px(x0, y)) 1 else 0
          nSet += bit
          bits.append(bit)
        }
        (id, w.toLong, h.toLong, bits.toString, nSet)
      })
      .toDF("asset_id", "w", "h", "dhash", "n_set")
  }

  /** Image NEAR-DUP pairs over aHash fingerprints — the MinHash-band
    * analogue for the multimodal tier ([[graft.ops.DedupOps]]'s
    * bandRowsOf discipline): the 64-bit fingerprint is banded as
    * 4 × 16 bits, candidates come ONLY from pairs sharing a band
    * bucket (never all-pairs), and each candidate is verified by the
    * exact Hamming distance over the full bitstrings riding the band
    * join. By pigeonhole the four bands are EXHAUSTIVE for Hamming
    * ≤ 3 — two fingerprints differing in ≤ 3 bits must agree on some
    * 16-bit band — so with the default threshold the banded result
    * provably equals the all-pairs scan (the SimHash 4×15 precedent;
    * the oracle exploits it by checking the closed-form all-pairs
    * answer). Scale: each band keys 2^16 buckets; occupancy ~n/65,536
    * per band keeps the self-join linear-ish at large corpora.
    */
  /** (asset_id, ahash, band, bk) band rows of a fingerprint table —
    * the 64-bit aHash banded as 4 × 16 bits, fingerprints riding along
    * (the bandRowsOf discipline: candidates found by a band join carry
    * both sides' fingerprints, no second lookup join — 64 chars is
    * cheap enough to ride, unlike the 512 B embed vectors).
    */
  private def ahashBandRows(fps: DataFrame): DataFrame =
    fps.select(col("asset_id"), col("ahash"), explode(array(
        (0 until 4).map(j => struct(lit(j).as("band"),
          substring(col("ahash"), j * 16 + 1, 16).as("bk"))): _*)).as("b"))
      .select(col("asset_id"), col("ahash"),
        col("b.band").as("band"), col("b.bk").as("bk"))

  /** Exact Hamming distance between bitstring columns `ha` and `hb`. */
  private def hammingExpr: Column =
    aggregate(zip_with(split(col("ha"), ""), split(col("hb"), ""),
      (x, y) => when(x =!= y, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x)

  def imageNearDupPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = ahashBandRows(fps)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("asset_a"), col("y.asset_id").as("asset_b"),
        col("x.ahash").as("ha"), col("y.ahash").as("hb"))
      .distinct()
      .select(col("asset_a"), col("asset_b"), hammingExpr.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonical-copy selection over image near-dup clusters — the
    * keep-best policy of an image dedup stage: within each connected
    * component of the aHash pair graph keep the HIGHEST-RESOLUTION
    * member (most pixels; the thumbnail/rescale variants drop), ties
    * to the smallest asset id. The [[graft.ops.DedupOps.dedupCanonical]]
    * idiom in the multimodal tier: clusters from min-label
    * propagation, election by ONE cluster-keyed max(struct) argmax —
    * no window, payload bytes never shuffle (only 8-byte fingerprints
    * and dimensions move).
    */
  def imageCanonical(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    // fps is consumed twice (band join + pixel join) and its lineage is
    // the decode mapPartitions — persist so payloads decode ONCE.
    val f = fps.persist()
    val clusters = GraphOps.connectedComponents(
      imageNearDupPairs(f, maxHamming)
        .select(col("asset_a").as("a"), col("asset_b").as("b")))
    val px = f.select(col("asset_id"), (col("w") * col("h")).as("px"))
    clusters.join(px, clusters("node") === px("asset_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_assets"),
        max(struct(col("px"), (-col("node")).as("neg"),
          col("node").as("node"))).as("best"))
      .select(col("cluster"), col("best.node").as("canon_id"),
        col("n_assets"), col("best.px").as("px_kept"))
  }

  /** Persist the image near-dup INDEX of a known fingerprint corpus:
    * aHash band rows under `path`/bands — the
    * [[graft.ops.DedupOps.writeMinhashIndex]] discipline for images.
    * Built once per snapshot; arrivals then band THEMSELVES ONLY and
    * probe with one keyed join ([[imageNearDupIncremental]]). At
    * 100 TB partition by `band` and bucket by `bk` so the probe
    * co-locates; the band table is 4 rows × ~90 B per image —
    * parquet-tiny next to the payloads it summarizes.
    */
  def writeImageIndex(fps: DataFrame, path: String): Unit =
    commitImageIndex(fps, path, SinkOps.CommitSpec(carryForward = false))

  /** Index MAINTENANCE: append an admitted batch's band rows —
    * O(batch) commits, the index never rewrites; duplicate band rows
    * across replayed appends collapse in the probe's candidate
    * distinct.
    */
  def appendToImageIndex(admittedFps: DataFrame, path: String): Unit =
    commitImageIndex(admittedFps, path, SinkOps.CommitSpec())

  /** The one commit of [[writeImageIndex]] and [[appendToImageIndex]]. */
  private def commitImageIndex(fps: DataFrame, path: String,
                               spec: SinkOps.CommitSpec): Unit = {
    SinkOps.commitVersion(ahashBandRows(fps), path + "/bands", spec); ()
  }

  /** Incremental image near-dup dedup against a PERSISTED aHash index
    * ([[writeImageIndex]]): each arriving fingerprint is judged by
    * band-bucket candidates + exact Hamming ≤ maxHamming against the
    * stored fingerprints riding the index rows — per-batch cost
    * O(arrivals), the known corpus never re-fingerprinted. Output, one
    * row per arrival: (asset_id, n_near, kept) — the
    * [[graft.ops.DedupOps.dedupMinhashIncremental]] verdict shape for
    * images; at the default threshold the banding is exhaustive
    * (pigeonhole), so the verdict is EXACT, not approximate.
    */
  def imageNearDupIncremental(arrivalFps: DataFrame, indexPath: String,
                              maxHamming: Int = 3): DataFrame = {
    val idx = SinkOps.readVersion(arrivalFps.sparkSession, indexPath + "/bands")
    val near = ahashBandRows(arrivalFps).as("x").join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk"))
      .select(col("x.asset_id").as("asset_id"),
        col("y.asset_id").as("idx_id"),
        col("x.ahash").as("ha"), col("y.ahash").as("hb"))
      .distinct()
      .select(col("asset_id"), col("idx_id"), hammingExpr.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("asset_id").agg(count(lit(1)).as("n_near"))
    arrivalFps.select("asset_id").join(near, Seq("asset_id"), "left")
      .select(col("asset_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(coalesce(col("n_near"), lit(0L)) === 0L, 1L)
          .otherwise(0L).as("kept"))
  }

  // ---- real RGB (3-band) decode tier ----

  /** Deterministic w×h RGB raster — the 3-band sibling of
    * [[syntheticGrayImage]], one closed-form gradient per channel so
    * the oracle can check each band independently (a gray-collapsed
    * decode would fuse them and fail all three):
    *   R(x,y) = (id + 31x + 7y) mod 256, planted R(0,0) = id mod 256
    *   G(x,y) = (id + 13x + 17y) mod 256, planted G(0,0) = 7·id mod 256
    *   B(x,y) = (3·id + 5x + 11y) mod 256, planted B(0,0) = 13·id mod 256
    */
  private def syntheticRgbImage(docId: Long): java.awt.image.BufferedImage = {
    val w = 1 + (docId % 16).toInt
    val h = 1 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w) {
      raster.setSample(x, y, 0, ((docId + x * 31L + y * 7L) % 256).toInt)
      raster.setSample(x, y, 1, ((docId + x * 13L + y * 17L) % 256).toInt)
      raster.setSample(x, y, 2, ((docId * 3 + x * 5L + y * 11L) % 256).toInt)
    }
    raster.setSample(0, 0, 0, (docId % 256).toInt)
    raster.setSample(0, 0, 1, ((docId * 7) % 256).toInt)
    raster.setSample(0, 0, 2, ((docId * 13) % 256).toInt)
    img
  }

  /** Real RGB PNG payload of the 3-band raster (lossless). */
  def syntheticRgbPng(docId: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(syntheticRgbImage(docId), "png", bos)
    bos.toByteArray
  }

  /** Per-CHANNEL stats + aHash over REAL decoded RGB PNG pixels — the
    * 3-band proof the gray tier can't give: each channel's floor mean
    * and 64-bit average-hash are computed from the decoded image's own
    * R/G/B samples (via the packed sRGB pixel — channel extraction by
    * bit shift, no ColorModel reinterpretation), and the closed-form
    * oracle checks all three independently, so a decoder that dropped,
    * swapped, or gray-fused bands fails loudly. Same scale shape as
    * [[imageAHash]]: decode + per-channel passes are pure map-side
    * work in one mapPartitions; no exchange until a consumer
    * aggregates.
    */
  def imageRgbStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val img = readImg(Asset(id, "png", syntheticRgbPng(id)))
        val (w, h) = (img.getWidth, img.getHeight)
        def chan(c: Int, x: Int, y: Int): Int =
          (img.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        def stats(c: Int): (Long, String, Long) = {
          var psum = 0L
          for (y <- 0 until h; x <- 0 until w) psum += chan(c, x, y)
          val mean = psum / (w.toLong * h)
          val bits = new StringBuilder(64)
          var nSet = 0L
          for (k <- 0 until 64) {
            val sx = (k % 8) * w / 8
            val sy = (k / 8) * h / 8
            val bit = if (chan(c, sx, sy) > mean) 1 else 0
            nSet += bit
            bits.append(bit)
          }
          (mean, bits.toString, nSet)
        }
        val r = stats(0); val g = stats(1); val b = stats(2)
        (id, w.toLong, h.toLong, r._1, r._2, r._3,
          g._1, g._2, g._3, b._1, b._2, b._3)
      })
      .toDF("asset_id", "w", "h", "mean_r", "ahash_r", "nset_r",
        "mean_g", "ahash_g", "nset_g", "mean_b", "ahash_b", "nset_b")
  }

  // ---- real JPEG decode tier (javax.imageio ships a JPEG codec) ----

  /** Deterministic synthetic JPEG: the shared gray raster, encoded
    * lossily. Dimensions survive the lossy round trip exactly (pixels do
    * not — only dims are oracle-checked; the spec checks the planted
    * pixel within a JPEG quantization tolerance).
    */
  def syntheticJpeg(docId: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(syntheticGrayImage(docId), "jpg", bos)
    bos.toByteArray
  }

  /** The q_multimodal_jpeg query surface: synthesize real JPEGs, decode
    * with the JDK's JPEG codec, aggregate the exact dimensions. Proves a
    * SECOND real image codec through the same batched map-side shape.
    */
  def jpegDecodeStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val f = decodeImage(Asset(id, "jpg", syntheticJpeg(id)))
        (id, f.width.toLong, f.height.toLong)
      })
      .toDF("asset_id", "width", "height")
      .agg(count(lit(1)).as("n_assets"),
        sum("width").as("sum_width"), sum("height").as("sum_height"))
  }

  // ---- real WAV decode tier (javax.sound.sampled, JDK-native) ----

  /** Extracted per-asset audio features (decode output schema). */
  case class AudioFeatures(asset_id: Long, n_samples: Long,
                           sample_rate: Int, channels: Int, sample_sum: Long)

  /** Deterministic synthetic WAV: 16-bit signed little-endian mono PCM at
    * 8 kHz, n = 64 + id mod 128 samples, sample i =
    * ((id·31 + i·17) mod 2^16) − 2^15. PCM round-trips losslessly, so
    * the decoded sample SUM is a closed-form integer function of the id —
    * the decode tier's oracle handle.
    */
  def syntheticWav(docId: Long): Array[Byte] = syntheticWavScaled(docId, 1)

  /** [[syntheticWav]] at reduced volume: every sample integer-divided
    * by `den` (truncation toward zero; the 16-bit codec round-trips
    * the scaled value exactly) — the deterministic "same recording,
    * lower volume" near-duplicate generator of the audio tier.
    */
  def syntheticWavScaled(docId: Long, den: Int): Array[Byte] = {
    val n = 64 + (docId % 128).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s0 = (((docId * 31 + i.toLong * 17) % 65536) - 32768).toInt
      val s = s0 / den
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Dedup-tier synthetic WAV: same container/length scheme as
    * [[syntheticWav]] but a WRAPPING multiplicative-step signal
    * (step 40503 > 2¹⁵ wraps the 16-bit range nearly every sample), so
    * frame energies are high-entropy — the shared ramp signal's smooth
    * energy profile would give the delta-sign fingerprint almost no
    * discriminating bits (measured: 16 k accidental collisions on the
    * fixture). Volume scaling by `den` divides samples with truncation
    * toward zero, exactly as [[syntheticWavScaled]].
    */
  def syntheticWavNoise(docId: Long, den: Int): Array[Byte] = {
    val n = 64 + (docId % 128).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s0 = (((docId * 2654435761L + i.toLong * 40503L) % 65536) -
        32768).toInt
      val s = s0 / den
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Energy-delta audio fingerprints over REAL WAV decodes — the
    * Haitsma-Kalker-style robust hash reduced to its volume-invariant
    * core: frame energies Σs², one bit per consecutive-frame
    * comparison (`e[k+1] > e[k]`), packed little-endian. Uniform gain
    * changes scale every energy together, so the DELTA SIGNS — and the
    * fingerprint — survive volume edits that break any byte- or
    * sample-digest. TWO bands: `fp` over 16-sample frames (coarse) and
    * `fp4` over 4-sample frames (fine) — the short-clip fix: a 4-frame
    * clip gives the coarse band only 3 bits, and pigeonhole then
    * guarantees accidental collisions between unrelated recordings
    * (172 on the 256-asset fixture); the fine band — its frame
    * count AND its delta bits, both part of the collision key — adds
    * ≥ 15 invariant bits plus the length resolution the coarse count
    * quantizes away, eliminating every accidental pair while keeping
    * all planted twins (spec-pinned). `den` applies the
    * volume scaling at synthesis (the planted near-dup generator),
    * `idOffset` shifts the slice ids. One mapPartitions decode pass;
    * 32 bytes out per asset.
    */
  def audioFingerprints(docs: DataFrame, idOffset: Long,
                        den: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val payload = syntheticWavNoise(id, den)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val n = ais.getFrameLength.toInt
        val bytes = ais.readAllBytes()
        def sample(i: Int): Long =
          ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong
        def band(fs: Int): Long = {
          val nf = n / fs
          val e = Array.tabulate(nf) { k =>
            var s = 0L
            var i = fs * k
            while (i < fs * (k + 1)) { s += sample(i) * sample(i); i += 1 }
            s
          }
          // The fingerprint is one Long: delta bits beyond 64 would
          // alias mod 64 under the JVM shift, so the loop caps at 64
          // bits — longer clips keep a 64-bit prefix fingerprint (the
          // frame COUNT stays in the collision key, so clips of
          // different lengths still never collide).
          var fp = 0L
          var k = 0
          val kMax = math.min(nf - 1, 64)
          while (k < kMax) {
            if (e(k + 1) > e(k)) fp |= (1L << k)
            k += 1
          }
          fp
        }
        (id + idOffset, (n / 16).toLong, (n / 4).toLong, band(16),
          band(4))
      })
      .toDF("asset_id", "n_frames", "n_frames4", "fp", "fp4")
  }

  /** Audio dedup candidates: assets whose (frame count, coarse AND
    * fine fingerprint) collide exactly — a keyed self-join on the
    * signature (bucketed by construction, never all-pairs; the
    * image-band and MinHash-band discipline with an exact key).
    * Catches the planted volume-halved twins a PCM digest cannot;
    * the two-band key keeps short clips from colliding by pigeonhole.
    */
  def audioDedupPairs(fps: DataFrame): DataFrame =
    fps.as("x").join(fps.as("y"),
        col("x.n_frames") === col("y.n_frames") &&
          col("x.n_frames4") === col("y.n_frames4") &&
          col("x.fp") === col("y.fp") &&
          col("x.fp4") === col("y.fp4") &&
          col("x.asset_id") < col("y.asset_id"))
      .select(col("x.asset_id").as("asset_a"),
        col("y.asset_id").as("asset_b"),
        col("x.n_frames").as("n_frames"),
        col("x.n_frames4").as("n_frames4"), col("x.fp").as("fp"),
        col("x.fp4").as("fp4"))

  /** REAL WAV decode via javax.sound.sampled: parse the container, check
    * the PCM format loudly, and recompute the sample sum from the decoded
    * frames (proof actual audio decoding ran, not header arithmetic).
    */
  def decodeWav(a: Asset): AudioFeatures = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian && fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      s"asset ${a.asset_id}: unexpected wav format $fmt")
    val n = ais.getFrameLength.toInt
    val bytes = ais.readAllBytes()
    require(bytes.length == n * 2,
      s"asset ${a.asset_id}: short read ${bytes.length} of ${n * 2}")
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
      i += 1
    }
    AudioFeatures(a.asset_id, n.toLong, fmt.getSampleRate.toInt,
      fmt.getChannels, sum)
  }

  /** The q_multimodal_wav query surface: synthesize real WAVs, decode,
    * aggregate frame counts and exact PCM sample sums. Map-side decode,
    * one aggregation exchange — the same 100 TB shape as the image tiers.
    */
  def wavDecodeStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val f = decodeWav(Asset(id, "wav", syntheticWav(id)))
        (id, f.n_samples, f.sample_sum)
      })
      .toDF("asset_id", "n_samples", "sample_sum")
      .agg(count(lit(1)).as("n_assets"),
        sum("n_samples").as("sum_samples"), sum("sample_sum").as("sum_amp"))
  }

  /** WAV METADATA via RIFF chunk walk — the audio twin of [[pngMetaOf]]:
    * container signature ("RIFF" size "WAVE"), then the chunk walk
    * (4-byte type, 4-byte little-endian length, data, even-boundary
    * padding), fmt fields (audio format, channels, sample rate, bits)
    * and the data chunk's byte length read straight from bytes —
    * javax.sound is never touched, so duration/format filters over an
    * audio lake run at header cost and only survivors pay PCM decode
    * ([[wavDecodeStats]]). Malformed payloads fail loudly. Returns
    * (audio_format, channels, sample_rate, bits, data_bytes).
    */
  def riffMetaOf(payload: Array[Byte]): (Int, Int, Int, Int, Long) = {
    def tag(o: Int) = new String(payload, o, 4, "US-ASCII")
    require(payload.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE payload")
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def le16(o: Int): Int =
      (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    var off = 12
    var fmtSeen = false
    var af = 0; var ch = 0; var sr = 0; var bits = 0
    var dataBytes = -1L
    while (off + 8 <= payload.length && dataBytes < 0) {
      val typ = tag(off)
      val len = le32(off + 4)
      if (typ == "fmt ") {
        require(len >= 16, s"fmt chunk too short: $len")
        af = le16(off + 8); ch = le16(off + 10)
        sr = le32(off + 12).toInt; bits = le16(off + 22)
        fmtSeen = true
      }
      if (typ == "data") dataBytes = len
      // chunks are word-aligned: odd lengths carry one pad byte
      else off += 8 + len.toInt + (len.toInt & 1)
    }
    require(fmtSeen, "no fmt chunk before data")
    require(dataBytes >= 0, "no data chunk")
    (af, ch, sr, bits, dataBytes)
  }

  /** The q_audio_meta query surface: RIFF-walk metadata over the
    * synthetic WAV corpus — PCM format, mono, 8 kHz, 16-bit, and the
    * sample count + exact duration derived from the data length, all
    * closed-form functions of doc_id, so the oracle passing proves the
    * byte-level walk (never a decoder) produced the numbers. Pure
    * map-side, zero exchange.
    */
  def audioMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val (af, ch, sr, bits, db) = riffMetaOf(syntheticWav(id))
        val blockAlign = ch * bits / 8
        val nSamples = db / blockAlign
        (id, af.toLong, ch.toLong, sr.toLong, bits.toLong, nSamples,
          nSamples * 1000000L / sr)
      })
      .toDF("asset_id", "audio_format", "channels", "sample_rate", "bits",
        "n_samples", "dur_us")
  }

  /** The q_audio_frames query surface: frame-level feature extraction —
    * what a speech pipeline computes per hop before any model sees the
    * audio. Each decoded WAV is cut into 64-sample frames; per frame,
    * energy (Σ s², exact int64 — 64·32768² ≈ 6.9e10) and zero-crossing
    * count (sign(s_i) ≠ sign(s_{i−1}) within the frame, sign = s ≥ 0).
    * Corpus rollup per frame index. The samples are the closed-form
    * synthetic PCM (syntheticWav), so the DuckDB oracle regenerates
    * them with a lateral range() and replays the identical integer
    * arithmetic — proof the decode + framing ran, not header math.
    * Map-side decode, one aggregation exchange.
    */
  /** Integer linear-interpolation audio RESAMPLE (8 kHz → 3 kHz, the
    * ratio expressed as num/den = 8/3): output sample k sits at source
    * position (k·num)/den, so with i = (8k) div 3 and r = (8k) mod 3
    * the interpolated value ×den is EXACTLY
    * out3 = (3−r)·s(i) + r·s(i+1) — all int64, no float resampler, so
    * the DuckDB oracle regenerates the identical values closed-form.
    * Output per asset: input/output lengths and the sum / k-weighted
    * sum / min / max of the ×3-scaled resampled signal (the weighted
    * sum pins every value AND its position). Emission stops at the
    * last k whose right neighbor exists (i ≤ n−2) — the standard
    * drop-the-tail contract. Real WAV container decode inside one
    * mapPartitions; zero exchange.
    */
  def audioResample(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.map { id =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(syntheticWav(id)))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian, s"asset $id: unexpected wav format $fmt")
        val n = ais.getFrameLength.toInt
        val bytes = ais.readAllBytes()
        require(bytes.length == n * 2, s"asset $id: short read")
        def s(i: Int): Long =
          ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong
        var k = 0L
        var (sum3, wsum3) = (0L, 0L)
        var (min3, max3) = (Long.MaxValue, Long.MinValue)
        var i = 0L
        while ({ i = (8L * k) / 3; i <= n - 2 }) {
          val r = (8L * k) % 3
          val out3 = (3 - r) * s(i.toInt) + r * s(i.toInt + 1)
          sum3 += out3; wsum3 += out3 * (k + 1)
          if (out3 < min3) min3 = out3
          if (out3 > max3) max3 = out3
          k += 1
        }
        (id, n.toLong, k, sum3, wsum3, min3, max3)
      })
      .toDF("asset_id", "n_in", "n_out", "sum3", "wsum3", "min3", "max3")
  }

  def audioFrameFeatures(docs: DataFrame, frameLen: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .flatMap { id =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(syntheticWav(id)))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian, s"asset $id: unexpected wav format $fmt")
        val n = ais.getFrameLength.toInt
        val bytes = ais.readAllBytes()
        require(bytes.length == n * 2, s"asset $id: short read")
        val samples = Array.tabulate(n)(i =>
          ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong)
        (0 until (n + frameLen - 1) / frameLen).map { fi =>
          val lo = fi * frameLen
          val hi = math.min(lo + frameLen, n)
          var e = 0L; var zc = 0L
          var i = lo
          while (i < hi) {
            e += samples(i) * samples(i)
            if (i > lo && (samples(i) >= 0L) != (samples(i - 1) >= 0L))
              zc += 1
            i += 1
          }
          (fi.toLong, e, zc)
        }
      }
      .toDF("frame_idx", "energy2", "zc")
      .groupBy("frame_idx")
      .agg(count(lit(1)).as("n_frames"),
        sum("energy2").as("sum_energy2"), sum("zc").as("sum_zc"))
  }

  // ---- real MP4 container demux tier (pure-JVM ISO BMFF, see Mp4) ----

  /** The q_multimodal_video query surface: synthesize real ISO BMFF
    * containers, demux them at the container level (box walk + sample
    * tables), extract every frame at its stco/stsc/stsz-derived byte
    * offset, and aggregate per asset: frame count, frame bytes, the sum
    * of extracted frame BYTES (a mis-parsed offset or size breaks it),
    * and the media duration in ticks. All closed-form functions of the
    * id (Mp4.synthFrames), so the DuckDB oracle verifies that actual
    * container demuxing — not header arithmetic — produced the numbers.
    * Pixel decode stays honestly out of scope: the JDK ships no video
    * codec; this is the demux stage a real pipeline runs BEFORE handing
    * frame ranges to one. Map-side demux, one aggregation exchange.
    */
  def videoDemuxStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        val asset = Asset(id, "mp4", Mp4.syntheticMp4(id))
        val t = Mp4.demux(asset.payload)
        Mp4.frames(asset).map { fr =>
          (id, fr.payload.length.toLong,
            fr.payload.foldLeft(0L)((acc, b) => acc + (b & 0xff)),
            t.durationTicks)
        }
      })
      .toDF("asset_id", "n_bytes", "byte_sum", "dur")
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum("n_bytes").as("frame_bytes"),
        sum("byte_sum").as("frame_byte_sum"),
        max("dur").as("duration_ticks"))
  }

  // ---- MJPEG-in-MP4 decode tier (Mp4 demux + the JDK JPEG codec) ----

  /** Deterministic per-frame gray raster for (docId, frame i): width
    * 1 + (id+i) mod 16, height 1 + ((id+i) div 16) mod 16, the shared
    * gradient fill. Closed-form dims are the MJPEG oracle handle (JPEG
    * is lossy, so — as in the still-JPEG tier — pixels are spec-checked
    * within quantization tolerance, dims oracle-checked exactly).
    */
  private def syntheticFrameImage(docId: Long,
                                  i: Int): java.awt.image.BufferedImage = {
    val w = 1 + ((docId + i) % 16).toInt
    val h = 1 + (((docId + i) / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0, ((docId + i * 13L + x * 31L + y * 7L) % 256).toInt)
    img
  }

  /** Frames per MJPEG asset: 3 + id mod 6 (shared with the oracle). */
  def mjpegFrameCount(docId: Long): Int = 3 + (docId % 6).toInt

  /** A real MJPEG-in-MP4 asset: every sample in the container is a
    * complete JPEG image (motion JPEG — the classic intraframe-only
    * video codec), so the SAME byte ranges the sample table locates are
    * directly decodable by the JDK's JPEG codec. This is the pixel path
    * the container-only tier couldn't walk: interframe codecs (H.26x)
    * have no JVM decoder, but MJPEG needs none beyond ImageIO.
    */
  def syntheticMjpegMp4(docId: Long): Array[Byte] =
    Mp4.containerize((0 until mjpegFrameCount(docId)).map { i =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(syntheticFrameImage(docId, i), "jpg", bos)
      bos.toByteArray
    })

  /** The q_multimodal_mjpeg query surface: containerize real JPEG
    * frames, demux the MP4 (stco/stsc/stsz sample walk), pixel-DECODE
    * each extracted frame with the JDK codec, and aggregate the decoded
    * dimensions per asset. End-to-end container→frame-bytes→pixels —
    * the full video ingest path a multimodal pipeline runs, with no
    * stub left: a mis-parsed sample offset yields undecodable bytes
    * (loud require), a wrong decode yields wrong dims (oracle). Same
    * map-side demux + one aggregation exchange shape as the other
    * codec tiers — at 100 TB the decode work scales with executors and
    * only (id, w, h) int64 triples reach the shuffle.
    */
  def mjpegDecodeStats(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions(_.flatMap { id =>
        val asset = Asset(id, "mp4", syntheticMjpegMp4(id))
        Mp4.frames(asset).map { fr =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(fr.payload))
          require(img != null,
            s"asset $id frame ${fr.frame_idx}: undecodable JPEG sample")
          (id, img.getWidth.toLong, img.getHeight.toLong)
        }
      })
      .toDF("asset_id", "w", "h")
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        sum("w").as("sum_width"), sum("h").as("sum_height"))
  }

  /** Oracle-checkable aggregate over the binary surface: per-format asset
    * counts and payload byte totals (octet_length semantics in both
    * engines). Exercises binary casting + metadata without the stub.
    */
  def assetStats(docs: DataFrame): DataFrame =
    assets(docs)
      .select(col("fmt"), octet_length(col("payload")).cast("long").as("nb"))
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_assets"), sum("nb").as("total_bytes"),
        (sum("nb").cast("double") / count(lit(1))).as("avg_bytes"))
}
