package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.multimodal.Multimodal

/** Real codec end-to-end behind the stub seam (round-14 verdict task 4):
  * javax.imageio ships with the JDK, so the decode step is exercised with
  * REAL pixels — tiny deterministic PNGs generated in-spec, decoded
  * through the same per-partition iterator as the stub path — and the
  * aHash over decoded pixels must agree bit-for-bit with the
  * [[graft.functions.AHash64]] expression on the equivalent byte grid. */
class ImageDecodeSpec extends SparkSpec {

  /** Deterministic grayscale PNG: pixel (x,y) = gray(bytes(y*w+x)). */
  private def grayPng(w: Int, h: Int, bytes: Array[Int]): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = bytes(y * w + x) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", bos), "JDK PNG writer missing?")
    bos.toByteArray
  }

  /** md5-derived pixel grid — deterministic, collision-varied. */
  private def grid(seed: Long, n: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Iterator.iterate(md.digest(BigInt(seed).toByteArray))(md.digest)
      .flatten.map(_ & 0xff).take(n).toArray
  }

  test("an 8x8 grayscale PNG decodes to exactly its source byte grid " +
      "(gray luma is the identity), and the real-pixel aHash equals the " +
      "AHash64 expression over the same 64 bytes") {
    val g = grid(7L, 64)
    val png = grayPng(8, 8, g)
    val decoded = Multimodal.decodeImage8x8(png)
      .getOrElse(fail("PNG did not decode"))
    // (299v+587v+114v)/1000 = v exactly: decode is lossless for gray
    assert(decoded.toSeq === g.toSeq)
    // expression path over the same bytes (len 64 -> tiling is identity)
    val spark2 = spark
    import spark2.implicits._
    val exprHash = Seq(g.map(_.toByte)).toDF("payload")
      .select(graft.functions.AHash64(org.apache.spark.sql.functions
        .col("payload")))
      .collect().head.getString(0)
    assert(Multimodal.aHashOfGrid(decoded) === exprHash)
  }

  test("a 16x16 PNG block-averages 2x2 cells integer-exactly") {
    // cell (gy,gx) holds the 4 values 4k,4k+1,4k+2,4k+3 -> mean 4k+1
    // (integer division of 16k+6 by 4)
    val bytes = new Array[Int](256)
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val k = gy * 8 + gx
      val base = (2 * gy) * 16 + 2 * gx
      bytes(base) = (4 * k) % 256
      bytes(base + 1) = (4 * k + 1) % 256
      bytes(base + 16) = (4 * k + 2) % 256
      bytes(base + 17) = (4 * k + 3) % 256
    }
    val decoded = Multimodal.decodeImage8x8(grayPng(16, 16, bytes))
      .getOrElse(fail("PNG did not decode"))
    val expected = Array.tabulate(64) { k =>
      val vs = Seq(4 * k, 4 * k + 1, 4 * k + 2, 4 * k + 3).map(_ % 256)
      vs.sum / 4
    }
    assert(decoded.toSeq === expected.toSeq)
  }

  test("the distributed per-partition decode (extractImageAHash) runs the " +
      "real codec inside Spark and non-image payloads yield null, not a " +
      "dropped row") {
    val spark2 = spark
    import spark2.implicits._
    val pngs = (0 until 6).map(i => (i.toLong, "image",
      grayPng(8, 8, grid(i.toLong, 64))))
    val junk = Seq((100L, "blob", "notanimage".getBytes("UTF-8")))
    val media = (pngs ++ junk)
      .toDF("media_id", "kind", "payload").repartition(4)
      .as[Multimodal.MediaRow]
    val out = Multimodal.extractImageAHash(media).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out.size === 7)
    assert(out(100L) === None, "non-image must yield null ahash")
    (0 until 6).foreach { i =>
      val want = Multimodal.aHashOfGrid(grid(i.toLong, 64))
      assert(out(i.toLong) === Some(want), s"media $i")
      assert(want.length === 64 && want.forall(c => c == '0' || c == '1'))
    }
  }
}
