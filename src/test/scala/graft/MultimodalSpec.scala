package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Multimodal.{MediaRow, syntheticBmp, decodeBmp}

/** The BMP decoder must be a real parser, not the generator's inverse:
  * it is pinned against a hand-assembled canonical file laid out from
  * the published BMP spec (independent byte-by-byte construction), and
  * against the generator for the field arithmetic the oracle mirrors. */
class MultimodalSpec extends AnyFunSuite {

  test("decodeBmp parses a hand-assembled canonical 24-bit BMP") {
    // 2x2 image, 24 bpp: rowBytes = (2*3+3)/4*4 = 8, pixel array = 16
    // bytes, file = 54 + 16 = 70. Assembled little-endian by hand.
    def le32(v: Int): Seq[Byte] =
      Seq(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    def le16(v: Int): Seq[Byte] = Seq(v, v >> 8).map(_.toByte)
    val pixels = (1 to 16).map(_.toByte)
    val bytes = (Seq('B'.toByte, 'M'.toByte) ++
      le32(70) ++ le32(0) ++ le32(54) ++            // size, reserved, offset
      le32(40) ++ le32(2) ++ le32(2) ++             // DIB size, width, height
      le16(1) ++ le16(24) ++                        // planes, bpp
      le32(0) ++ le32(16) ++                        // compression, image size
      le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ // ppm, palette
      pixels).toArray
    val m = decodeBmp(MediaRow(7L, bytes))
    assert(m.doc_id == 7L)
    assert(m.n_bytes == 70L, "file size must come from the header field")
    assert(m.width == 2 && m.height == 2)
    assert(m.fmt == "bmp24")
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(pixels.toArray).map("%02x".format(_)).mkString
    assert(m.frame_hash == expected,
      "frame hash must cover pixel bytes at the PARSED data offset")
  }

  test("decodeBmp rejects malformed payloads with doc-tagged errors") {
    val e = intercept[IllegalArgumentException] {
      decodeBmp(MediaRow(1L, "not an image".getBytes("UTF-8")))
    }
    assert(e.getMessage.contains("not a BMP"))
    // 1-byte payload: length guard, not an IndexOutOfBounds
    val e2 = intercept[IllegalArgumentException] {
      decodeBmp(MediaRow(2L, Array[Byte]('B')))
    }
    assert(e2.getMessage.contains("not a BMP"))
    // valid magic + header size but data offset beyond the payload
    val truncated =
      syntheticBmp(Array.tabulate[Byte](44)(i => (32 + i % 90).toByte)).take(54)
    val patched = truncated.clone()
    patched(10) = 100.toByte // data offset 100 > 54-byte payload
    val e3 = intercept[IllegalArgumentException] {
      decodeBmp(MediaRow(3L, patched))
    }
    assert(e3.getMessage.contains("outside payload"))
  }

  test("decodeBmp reports a top-down BMP's height by magnitude") {
    val b = syntheticBmp(Array.tabulate[Byte](44)(i => (32 + i % 90).toByte))
    val h = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .getInt(22)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -h) // top-down row-order flag
    assert(decodeBmp(MediaRow(4L, b)).height == h)
  }

  test("syntheticBmp round-trips through the parser with oracle arithmetic") {
    for (len <- Seq(44, 64, 100, 577)) {
      val content = Array.tabulate[Byte](len)(i => (32 + i % 90).toByte)
      val m = decodeBmp(MediaRow(len.toLong, syntheticBmp(content)))
      val w = len % 64 + 11
      val h = len % 48 + 2
      assert(m.width == w && m.height == h)
      assert(m.n_bytes == 54L + (w * 3 + 3) / 4 * 4 * h)
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest(content.take(32)).map("%02x".format(_)).mkString
      assert(m.frame_hash == expected,
        "first 32 pixel bytes must be the payload's first 32 bytes")
    }
  }

  test("t58: decoded-signature dedup groups identical payloads, " +
      "keeps the lowest doc_id") {
    // the driver fixture has no exact duplicates, so the grouping branch
    // is pinned here on a crafted corpus: docs 1/3/7 share a payload
    // (one group, keeper 1); docs 2/5 share their first-32 bytes but
    // have DIFFERENT lengths → different decoded dims → NOT grouped
    // (the dims are part of the signature exactly so that a prefix
    // collision alone cannot merge distinct images)
    val spark = SparkSuite.spark
    val baseA = "A" * 32
    val baseD = "D" * 32
    val docs = Seq(
      1L -> (baseA + "x" * 20), 3L -> (baseA + "x" * 20),
      7L -> (baseA + "x" * 20),
      2L -> (baseD + "y" * 20), 5L -> (baseD + "y" * 44),
      9L -> ("B" * 40))
    val dir = java.nio.file.Files.createTempDirectory("t58").toString
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t58_multimodal_dedup")(spark, dir)
      .select("doc_id", "keep_id", "n_copies", "is_dup")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, false), (2L, 2L, 1L, false), (3L, 1L, 3L, true),
      (5L, 5L, 1L, false), (7L, 1L, 3L, true), (9L, 9L, 1L, false)))
  }
}
