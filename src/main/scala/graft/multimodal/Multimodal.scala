package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (north-star extension per BASELINE.json): image /
  * audio / video payloads ride as opaque `binary` columns with typed
  * metadata; decode / feature-extraction runs per-partition so a real codec
  * initializes once per task, not once per row.
  *
  * The decode step is a DETERMINISTIC STUB — the container has no image/
  * audio libraries. `decodeStub` derives a fake "feature" record purely from
  * the bytes (length, first/last byte, an md5-based checksum) so the Spark-
  * side plumbing (schema, partitioning, batch shape, per-partition init) is
  * real and oracle-testable. A production build swaps `decodeStub` for a
  * codec call with the same signature.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 first_byte: Int, last_byte: Int, checksum: String)

  /** STUB decode: a real implementation would parse the container format
    * (JPEG/PNG/WAV/...) here. Deterministic byte-derived stand-in. */
  def decodeStub(payload: Array[Byte]): (Long, Int, Int, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    (payload.length.toLong,
      if (payload.isEmpty) -1 else payload.head & 0xff,
      if (payload.isEmpty) -1 else payload.last & 0xff,
      hex)
  }

  /** Per-partition decode: mirrors mapInPandas batch shape — the iterator is
    * one partition, codec state initializes once before it. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // Real codecs would initialize here, once per partition/task.
      rows.map { r =>
        val (n, f, l, sum) = decodeStub(r.payload)
        MediaFeatures(r.media_id, r.kind, n, f, l, sum)
      }
    }
  }

  /** Frame sampling: deterministic fixed-stride byte slices of the binary
    * payload — the video frame-sample / audio chunking shape. Pure column
    * work (substring on binary is byte-addressed, explode is narrow), so
    * it stays in whole-stage codegen with no shuffle; a real decoder
    * replaces the slice with a seek+decode at the same offsets. Payloads
    * shorter than an offset yield empty frames (md5 of empty is still
    * deterministic) so the output shape is uniform. */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int,
                   nFrames: Int): DataFrame = {
    val frames = (0 until nFrames).map { i =>
      struct(lit(i).as("frame_no"),
        substring(col("payload"), 1 + i * frameSize, frameSize).as("frame"))
    }
    media.toDF()
      .select(col("media_id"), explode(array(frames: _*)).as("f"))
      .select(col("media_id"), col("f.frame_no").as("frame_no"),
        length(col("f.frame")).cast("long").as("frame_bytes"),
        md5(col("f.frame")).as("frame_md5"))
  }

  /** Average-hash (aHash) over the stub-decoded pixel grid: the payload
    * tiles to an 8×8 grayscale grid (a real decoder would downsample the
    * decoded image to 8×8 here), and bit i is set iff pixel i exceeds the
    * grid mean — decided integer-exactly (64·p_i > Σp) so both engines
    * agree bit-for-bit. The hash is a 64-char '0'/'1' string: byte-wise
    * Hamming distance (the native [[graft.functions.HammingDistance]]
    * expression) IS the perceptual distance, and a one-byte payload change
    * flips only a few bits — the locality property that makes near-dup
    * banding work on media.
    *
    * Computed by the native codegen expression
    * [[graft.functions.AHash64]] — one fused loop inside whole-stage
    * codegen, replacing the earlier 64-lambda HOF formulation that never
    * codegen'd (docs/SCALING.md q202 postmortem). */
  def aHash(media: DataFrame): DataFrame =
    media.withColumn("ahash", graft.functions.AHash64(col("payload")))

  /** RESIZE stub — the downsample step of an image pipeline (a real
    * build decodes the container and block-averages the pixel buffer at
    * the same offsets): the first 256 payload characters form a 16×16
    * grid (space-padded — deterministic for short payloads) and each
    * output cell is the INTEGER mean of its 2×2 block, so the resized
    * 8×8 grid is engine-exact. 64 static substring+ascii lanes — all
    * intrinsics, fused into whole-stage codegen (the q202 aHash lesson:
    * never a per-row lambda chain). Returns array<long>(64). */
  def resize8x8(payloadStr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g = rpad(substring(payloadStr, 1, 256), 256, " ")
    array((0 until 64).map { b =>
      val base = 32 * (b / 8) + 2 * (b % 8)
      val s4 = ascii(substring(g, base + 1, 1)) +
        ascii(substring(g, base + 2, 1)) +
        ascii(substring(g, base + 17, 1)) +
        ascii(substring(g, base + 18, 1))
      // non-negative int sum: floor(x/4) IS integer division, exactly
      floor(s4 / 4.0).cast("long")
    }: _*)
  }

  /** REAL pixel decode via javax.imageio (JDK-built-in: PNG/BMP/GIF/
    * JPEG readers ship with the JRE — no external codec needed): the
    * production implementation behind the stub seam. Decodes the
    * payload and block-averages integer luma (ITU-R BT.601 in exact
    * integer form: (299R+587G+114B)/1000) to an 8×8 grid — the real
    * counterpart of [[resize8x8]]'s contract. None when the payload is
    * not a decodable image; callers keep the row with a null feature
    * (audit visibility) rather than dropping it. ImageIO.read returns
    * null only when NO reader claims the payload — a payload with a
    * valid magic header but a truncated/corrupt body THROWS from the
    * matched reader instead, so the whole decode is exception-guarded:
    * any decode failure is the same "not a decodable image" outcome,
    * never a task-killing error. */
  def decodeImage8x8(payload: Array[Byte]): Option[Array[Int]] = try {
    gridOf(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
  } catch {
    // corrupt body behind a valid header (IIOException et al.): same
    // contract as the no-reader case — null feature, row kept
    case scala.util.control.NonFatal(_) => None
  }

  /** The 8×8 integer-luma block average shared by every decode route.
    * Pixels are fetched a ROW at a time through the bulk
    * `getRGB(x, y, w, 1, buf, 0, w)` entry point — one surface/color-model
    * dispatch per row instead of per pixel (same sRGB conversion, same
    * values; the per-pixel form measurably dominated small-image decode). */
  private def gridOf(img: java.awt.image.BufferedImage): Option[Array[Int]] =
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Long](64)
      val cnt = new Array[Long](64)
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        val gy = y * 8 / h
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val gx = x * 8 / w
          val rgb = row(x)
          val lum = (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
            114L * (rgb & 0xff)) / 1000L
          val c = gy * 8 + gx
          sums(c) += lum
          cnt(c) += 1
          x += 1
        }
        y += 1
      }
      Some(Array.tabulate(64)(i =>
        if (cnt(i) == 0) 0 else (sums(i) / cnt(i)).toInt))
    }

  /** Per-TASK reusable decoder — the codec-init-once discipline extended
    * to the reader object itself: `ImageIO.read` scans the plugin
    * registry and builds a fresh reader + stream wrapper per call, which
    * at millions of small payloads is a large constant factor. Payloads
    * with the PNG magic reuse ONE cached PNG reader (reset between rows
    * per the ImageReader contract); everything else falls back to the
    * generic [[decodeImage8x8]] path unchanged. Identical contract:
    * decodable image → Some(grid), anything else → None. NOT thread-safe
    * — construct inside mapPartitions, one per task. */
  final class Image8x8Decoder {
    private val pngReader = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("png")
      if (it.hasNext) Some(it.next()) else None
    }
    // Full 8-byte PNG signature (89 50 4E 47 0D 0A 1A 0A): a CR/LF-mangled
    // payload with an intact 4-byte prefix must take the generic fallback,
    // not reach the cached reader's exception path.
    private val PngMagic: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    private def isPng(p: Array[Byte]): Boolean =
      p.length > 8 && java.util.Arrays.equals(p, 0, 8, PngMagic, 0, 8)
    def decode(payload: Array[Byte]): Option[Array[Int]] = pngReader match {
      case Some(r) if isPng(payload) =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          r.setInput(iis, true, true)
          gridOf(r.read(0))
        } catch {
          // truncated/corrupt body behind a PNG magic: same None contract
          case scala.util.control.NonFatal(_) => None
        } finally {
          r.setInput(null) // release the stream; keep the reader for reuse
          try iis.close() catch { case scala.util.control.NonFatal(_) => () }
        }
      case _ => decodeImage8x8(payload)
    }
  }

  /** aHash bit rule over a decoded 8×8 grid — IDENTICAL to the byte-tile
    * expression ([[graft.functions.AHash64]]): bit i set iff 64·p_i > Σp,
    * decided integer-exactly. Shared so the real-decode path and the
    * expression path can never drift. */
  def aHashOfGrid(grid: Array[Int]): String = {
    val total = grid.foldLeft(0L)(_ + _)
    val out = new Array[Char](64)
    var i = 0
    while (i < 64) {
      out(i) = if (grid(i).toLong * 64L > total) '1' else '0'
      i += 1
    }
    new String(out)
  }

  /** Real-decode aHash over a media table: the SAME per-partition
    * iterator seam as [[extractFeatures]], with javax.imageio replacing
    * the stub (reader lookup + cache config initialize once per task,
    * not per row). Non-image payloads yield a null ahash. */
  def extractImageAHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-task codec init: ImageIO's default disk-backed stream cache
      // is pure overhead for in-memory payloads; the decoder instance
      // caches the PNG reader so the registry scan happens once per task
      javax.imageio.ImageIO.setUseCache(false)
      val dec = new Image8x8Decoder
      rows.map { r =>
        (r.media_id, r.kind, dec.decode(r.payload).map(aHashOfGrid).orNull)
      }
    }.toDF("media_id", "kind", "ahash")
  }

  /** Build a binary media table from the events props strings (the driver
    * data has no blob column; utf-8 bytes keep every derived feature
    * SQL-checkable from the string side). */
  def mediaFromEvents(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .select(col("event_id").as("media_id"), col("event_type").as("kind"),
        encode(col("props"), "UTF-8").as("payload"))
      .as[MediaRow]
  }
}
