package graft.llmops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The decode stage is REAL for image payloads: `javax.imageio` (in the
  * JDK — zero added dependencies) decodes PNG/BMP/GIF/JPEG/WBMP to true
  * width/height/frame-count and an 8-bin luma histogram feature vector.
  * Payloads no JDK reader recognizes (audio, video, arbitrary bytes —
  * this container ships no codecs for those) fall back to a
  * deterministic byte-derived signature so the stage is total and
  * reproducible; swapping in an audio/video codec changes only
  * [[fallbackDecode]].
  *
  * Scale notes: decode is the classic CPU-bound per-row stage — it runs
  * in `mapPartitions` so library/codec init happens once per partition
  * (the same reason PySpark uses mapInPandas batches), and a
  * layout-CONDITIONAL spread at the codec head re-establishes decode
  * parallelism when (and only when) the scan produced fewer splits
  * than cores. Binary payloads shuffle at most once, and never on a
  * production-wide layout: metadata is projected first, decode output
  * is columnar features.
  */
object Multimodal {

  case class Blob(blob_id: Long, kind: String, payload: Array[Byte])
  case class DecodedMeta(blob_id: Long, kind: String, n_bytes: Long,
                         width: Int, height: Int, n_frames: Int,
                         features: Array[Float])

  /** Wrap a text corpus as fake binary media (payload = UTF-8 bytes,
    * kind from the source column) — the test harness for the binary
    * pipeline. */
  def asBlobs(df: DataFrame, idCol: String, textCol: String,
              kindCol: String): DataFrame =
    df.select(col(idCol).as("blob_id"),
      coalesce(col(kindCol), lit("unknown")).as("kind"),
      coalesce(col(textCol), lit("")).cast("binary").as("payload"))

  /** Cheap metadata pass — pure expressions, no decode, runs at scan
    * speed: byte length, content digest, leading "magic" bytes. */
  def blobMetadata(blobs: DataFrame): DataFrame =
    blobs.select(col("blob_id"), col("kind"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      hex(substring(col("payload"), 1, 4)).as("magic"))

  /** Fallback for payloads no JDK image reader recognizes (audio/video/
    * arbitrary bytes — no codecs in this container): a deterministic
    * byte-derived signature. Dimensions and features are pure functions
    * of the payload so results are reproducible; a real audio/video
    * codec would replace this body. */
  private[llmops] def fallbackDecode(b: Blob): DecodedMeta = {
    val n = b.payload.length
    val h = java.util.Arrays.hashCode(b.payload)
    val width = 16 + math.abs(h % 1024)
    val height = 16 + math.abs((h / 1024) % 1024)
    val frames = 1 + n % 32
    // byte-signature "embedding": mean byte value per 16-byte block
    val feats = (0 until 8).map { blk =>
      val from = blk * 16
      val slice = b.payload.slice(from, from + 16)
      if (slice.isEmpty) 0f
      else slice.map(_.toInt & 0xFF).sum.toFloat / slice.length / 255f
    }.toArray
    DecodedMeta(b.blob_id, b.kind, n.toLong, width, height, frames, feats)
  }

  /** Real image decode via `javax.imageio` (JDK-shipped readers: PNG,
    * BMP, GIF, JPEG, WBMP). True width/height from the decoded raster,
    * frame count from the reader (animated GIFs > 1), features = 8-bin
    * luma histogram of frame 0. Unrecognized or corrupt payloads fall
    * through to [[fallbackDecode]] — the stage is total. */
  private[llmops] def decodeOne(b: Blob): DecodedMeta = {
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b.payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) fallbackDecode(b)
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val frames =
            try math.max(r.getNumImages(true), 1)
            catch { case _: Exception => 1 }
          val img = r.read(0)
          DecodedMeta(b.blob_id, b.kind, b.payload.length.toLong,
            img.getWidth, img.getHeight, frames, lumaHistogram(img))
        } finally r.dispose()
      }
    } catch {
      case _: Exception => fallbackDecode(b) // truncated/corrupt image
    } finally if (in != null) in.close()
  }

  /** 8-bin normalized luma histogram (Rec.601 integer weights) — a real,
    * deterministic per-image feature vector: bin i counts pixels with
    * luma in [i·32, (i+1)·32); values sum to 1. */
  private[llmops] def lumaHistogram(img: java.awt.image.BufferedImage,
                                    bins: Int = 8): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val counts = new Array[Long](bins)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w) // one row per call bounds memory
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        counts(luma * bins / 256) += 1
        x += 1
      }
      y += 1
    }
    val total = w.toLong * h
    counts.map(c => c.toFloat / total)
  }

  /** Decode stage: typed mapPartitions so per-partition codec init is
    * amortized (the Scala analogue of a mapInPandas batch UDF — the
    * iterator IS the batch). */
  def decode(spark: SparkSession, blobs: DataFrame): Dataset[DecodedMeta] = {
    import spark.implicits._
    blobs.as[Blob].mapPartitions { it =>
      // per-partition codec init: ImageIO's plugin registry scan happens
      // once per executor JVM on first use. setUseCache(false) keeps
      // stream caches IN MEMORY: the default wraps every
      // createImageInputStream/ImageOutputStream in a FILE-backed
      // cache — one temp-file create/write/delete per image — which
      // is pure overhead for byte-array payloads and collapses under
      // concurrent tasks on a contended disk (measured: the spread
      // decode stage went 540 s of task-time across 32 tasks with the
      // disk cache vs sub-second in memory). NOTE this is a
      // PROCESS-GLOBAL static: it changes ImageIO stream-cache
      // behavior for every other user of the executor (and, in local
      // mode, driver) JVM, and in-memory caching raises heap pressure
      // for very large images elsewhere (round-17 advice). Accepted
      // deliberately: this engine's codec paths are the JVM's only
      // ImageIO users, payloads are byte arrays, and the measured
      // disk-cache collapse is the bigger hazard. A stricter scope
      // would construct MemoryCacheImageInputStream per read instead.
      javax.imageio.ImageIO.setUseCache(false)
      it.map(decodeOne)
    }
  }

  /** Pack arbitrary payload bytes into a REAL grayscale PNG (fixed
    * `width`, rows = ceil(n/width), zero-padded tail): turns any corpus
    * into genuine image payloads, so the encode→decode path exercises
    * the actual JDK codec end-to-end on driver test data — and the
    * decoded dimensions become oracle-checkable pure functions of the
    * source byte length. Runs in the same mapPartitions shape as
    * [[decode]]. */
  def bytesToPngBlobs(spark: SparkSession, blobs: DataFrame,
                      width: Int = 16): DataFrame = {
    import spark.implicits._
    // the encode is the head of every heavy chain (decode/aHash are
    // narrow downstream), so the one spread here parallelizes the
    // whole binary pipeline: AQE's byte-based coalescing is blind to
    // per-row codec cost (measured at sf0.1: encode + decode ran as
    // single 3.4 s / 1.7 s tasks). Layout-conditional, so a blob
    // table already wider than the cores pays no payload exchange;
    // callers feed scan-rooted lineage ([[asBlobs]] output), as
    // ensureWideScan requires.
    val spread = graft.Spread.ensureWideScan(blobs, col("blob_id"))
    spread.as[Blob].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // see [[decode]]
      it.map { b =>
        val h = math.max(1, (b.payload.length + width - 1) / width)
        val img = new java.awt.image.BufferedImage(width, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < b.payload.length) {
          raster.setSample(i % width, i / width, 0, b.payload(i) & 0xFF)
          i += 1
        }
        val os = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", os)
        Blob(b.blob_id, "image/png", os.toByteArray)
      }
    }.toDF()
  }

  /** 64-bit AVERAGE perceptual hash (aHash) of a decoded image: the
    * raster average-pools into an 8×8 grid (ragged edge blocks fold
    * into the border cells) and bit (i,j) is set iff the block's mean
    * luma exceeds the global mean — compared CROSS-MULTIPLIED
    * (`blockSum·n > totalSum·blockCount`), all-integer, so the hash is
    * a pure function of the pixels with no float threshold to drift.
    * Two images that LOOK alike (crops aside) pool to similar grids,
    * so near-duplicate payloads land within a small Hamming radius —
    * the signature the LAION-style image-dedup path buckets on. */
  private[llmops] def aHashFromImage(
      img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    val row = new Array[Int](w)
    // single-band rasters pool their RAW samples: getRGB would route a
    // TYPE_BYTE_GRAY image through the linear-gray → sRGB color-model
    // conversion (gamma), silently decoupling the hash from the stored
    // bytes (and from [[aHashFromBytes]]); raw samples are byte-exact
    // and independent of the JDK's color-management tables. Multi-band
    // images take the ITU-R 601 integer luma of getRGB.
    val singleBand = img.getRaster.getNumBands == 1
    var y = 0
    while (y < h) {
      if (singleBand) img.getRaster.getSamples(0, y, w, 1, 0, row)
      else img.getRGB(0, y, w, 1, row, 0, w)
      val bi = math.min(y / bh, 7)
      var x = 0
      while (x < w) {
        val v =
          if (singleBand) row(x)
          else {
            val rgb = row(x)
            (((rgb >> 16) & 0xFF) * 299 +
              ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
          }
        val cell = bi * 8 + math.min(x / bw, 7)
        sums(cell) += v; cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val tot = sums.sum
    var bits = 0L; var c = 0
    while (c < 64) {
      if (cnts(c) > 0 && sums(c) * n > tot * cnts(c)) bits |= 1L << c
      c += 1
    }
    bits
  }

  /** Perceptual-hash stage: decode each payload with the REAL JDK
    * codec and emit its 64-bit [[aHashFromImage]]. Unrecognized
    * payloads hash their raw bytes through the same pooling at a fixed
    * 16-byte row width (deterministic, total — and for the lossless
    * grayscale PNGs [[bytesToPngBlobs]] builds, byte pooling and
    * decoded-raster pooling agree exactly, so the fallback never forks
    * the result). Same mapPartitions shape as [[decode]]. */
  def aHash64(spark: SparkSession, blobs: DataFrame): DataFrame = {
    import spark.implicits._
    blobs.as[Blob].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // see [[decode]]
      it.map { b =>
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(b.payload))
          catch { case _: Throwable => null }
        val sig =
          if (img != null) aHashFromImage(img)
          else aHashFromBytes(b.payload, 16)
        (b.blob_id, sig)
      }
    }.toDF("blob_id", "ahash")
  }

  /** Byte-domain twin of [[aHashFromImage]] for payloads no codec
    * reads: bytes fold into `width`-wide rows (zero-padded tail, the
    * [[bytesToPngBlobs]] layout) and pool identically. */
  private[llmops] def aHashFromBytes(payload: Array[Byte],
                                     width: Int): Long = {
    val h = math.max(1, (payload.length + width - 1) / width)
    val bw = (width + 7) / 8; val bh = (h + 7) / 8
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val bi = math.min(y / bh, 7)
      var x = 0
      while (x < width) {
        val idx = y * width + x
        val v = if (idx < payload.length) payload(idx) & 0xFF else 0
        val cell = bi * 8 + math.min(x / bw, 7)
        sums(cell) += v; cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    val n = width.toLong * h
    val tot = sums.sum
    var bits = 0L; var c = 0
    while (c < 64) {
      if (cnts(c) > 0 && sums(c) * n > tot * cnts(c)) bits |= 1L << c
      c += 1
    }
    bits
  }

  /** Frame sampling: every `stride`-th 16-byte slice of the payload as a
    * fake "frame" — array-typed output, one row per blob, frames
    * exploded downstream only if needed (keeps the shuffle narrow). */
  def frameSample(blobs: DataFrame, stride: Int = 4): DataFrame =
    blobs.select(col("blob_id"),
      transform(
        sequence(lit(0),
          greatest(floor(octet_length(col("payload")) / (16 * stride))
            .cast("int") - 1, lit(0))),
        i => substring_index(base64(
          substring(col("payload"), i * lit(16 * stride) + lit(1), lit(16))), "=", 1))
        .as("frames"))
}
