package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Md5

/** Multimodal-column plumbing: media payloads ride as opaque binary
  * columns with typed metadata, and decode / feature-extract runs as a
  * batched per-partition operation (the Scala analogue of arrow-batched
  * decode UDFs: one iterator per partition, decoder state amortized
  * across the batch).
  *
  * t11's decode is a REAL format parse: payloads are well-formed 24-bit
  * BMP files (synthesized from the text fixture — this container ships
  * no images, but BMP needs no library) and the decoder reads the actual
  * header fields (magic, little-endian size/offset/width/height/bpp) and
  * hashes pixel bytes at the parsed data offset, exactly as it would on
  * crawled images. The frame sampler (t14) and feature extractor (t17)
  * remain deterministic stubs standing in for codec/model calls; their
  * Spark-side plumbing — binary columns, typed Encoders, partition
  * iterators, output schemas, oracle comparison — is real and tested.
  */
object Multimodal {

  /** Input row: media payload as opaque bytes. */
  final case class MediaRow(doc_id: Long, content: Array[Byte])

  /** Decoded metadata row. */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int,
      height: Int, fmt: String, frame_hash: String)

  /** Fixture generator: a well-formed 24-bit BMP (54-byte
    * BITMAPFILEHEADER + BITMAPINFOHEADER, rows padded to 4 bytes)
    * whose pixel data starts with the payload bytes. Dimensions are
    * derived from the payload length; width ≥ 11 keeps the pixel array
    * ≥ 36 bytes so the frame hash below never reads padding. Any BMP
    * reader opens the result. */
  def syntheticBmp(content: Array[Byte]): Array[Byte] = {
    val c = if (content == null) Array.empty[Byte] else content
    // t11's oracle hashes substr(text, 1, 32) and equates length(text)
    // with the payload byte count — both only hold for ≥32-byte pure-
    // ASCII payloads (shorter ones would make the decoder hash zero-
    // padded pixel bytes the oracle never sees; non-ASCII would break
    // the char-count ≡ byte-count identity). The fixture corpus
    // satisfies this at every SF; a fixture change must fail HERE,
    // loudly, not as a frame_hash gate mismatch to debug.
    require(c.length >= 32,
      s"syntheticBmp payload must be >= 32 bytes (got ${c.length})")
    require(c.forall(b => b > 0x00 && b < 0x80),
      "syntheticBmp payload must be NUL-free ASCII")
    val w = c.length % 64 + 11
    val h = c.length % 48 + 2
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54) // size, reserved, offset
      .putInt(40).putInt(w).putInt(h)             // DIB size, dims
      .putShort(1).putShort(24)                   // planes, bpp
      .putInt(0).putInt(dataSize)                 // compression, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // ppm, palette
    buf.put(c, 0, math.min(c.length, dataSize))   // pixels: payload + zeros
    buf.array()
  }

  /** REAL BMP header decode — the parse a crawled-image pipeline runs:
    * validate magic + length, read the little-endian header fields, and
    * hash the first 32 pixel bytes AT THE PARSED DATA OFFSET (not a
    * fixed position). Works on any uncompressed BMP, not just
    * [[syntheticBmp]]'s; malformed payloads (truncated header, data
    * offset outside the file) fail with a doc-id-tagged message instead
    * of an index exception from deep inside a task. A top-down BMP
    * stores height negative (row order flag) — the magnitude is the
    * image height, so that's what's reported. */
  def decodeBmp(r: MediaRow): MediaMeta = {
    val c = r.content
    require(c != null && c.length >= 54 &&
      c(0) == 'B'.toByte && c(1) == 'M'.toByte,
      s"doc ${r.doc_id}: not a BMP payload")
    val bb = java.nio.ByteBuffer.wrap(c)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val fileSize = bb.getInt(2)
    val dataOffset = bb.getInt(10)
    require(dataOffset >= 54 && dataOffset <= c.length,
      s"doc ${r.doc_id}: BMP data offset $dataOffset outside payload " +
        s"(${c.length} bytes)")
    val width = bb.getInt(18)
    val height = math.abs(bb.getInt(22))
    val bpp = bb.getShort(28).toInt
    val frame = java.util.Arrays.copyOfRange(c, dataOffset,
      math.min(dataOffset + 32, c.length))
    val digest = Md5.hex(frame)
    MediaMeta(r.doc_id, fileSize.toLong, width, height, s"bmp$bpp", digest)
  }

  val defs: Map[String, QueryDef] = Map(
    // documents.text wrapped into well-formed BMPs stands in for a
    // crawled-image column; the decode is a REAL header parse running
    // once per partition batch via mapPartitions. The oracle recomputes
    // the header fields arithmetically from the text length (BMP's
    // layout is deterministic), so the gate proves the parser extracted
    // every field — offset, dims, bpp, pixel hash — correctly.
    "t11_multimodal_decode" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val media = Tables.t(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("content"))
          .as[MediaRow]
        media.mapPartitions { batch =>
          // per-partition setup would initialize the decoder once here
          batch.map(r => decodeBmp(MediaRow(r.doc_id, syntheticBmp(r.content))))
        }.toDF()
          .orderBy("doc_id")
      },
      // fixture texts are ASCII and ≥ 44 bytes (checked at all SFs), so
      // the first 32 pixel bytes are exactly substr(text, 1, 32) and
      // length(text) == payload byte length
      Some("""WITH dims AS (
             |  SELECT doc_id, text,
             |    length(text) % 64 + 11 AS w,
             |    length(text) % 48 + 2 AS h
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
             |  CAST(w AS INTEGER) AS width,
             |  CAST(h AS INTEGER) AS height,
             |  'bmp24' AS fmt,
             |  md5(substr(text, 1, 32)) AS frame_hash
             |FROM dims ORDER BY doc_id""".stripMargin)),

    // Frame sampling + resize: 4 evenly-spaced 16-byte "frames" per
    // payload, each signed, plus halved (resized) dimensions. One input
    // row fans out to 4 frame rows inside the partition iterator — the
    // shape of a real video frame-sampler (decoder init once per
    // partition, frames emitted streaming, no driver involvement).
    "t14_multimodal_frames" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val media = Tables.t(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("content"))
          .as[MediaRow]
        media.mapPartitions { batch =>
          batch.flatMap(frameSampleStub)
        }.toDF()
          .orderBy("doc_id", "frame_no")
      },
      Some("""SELECT doc_id, f.frame_no,
             |  md5(substr(text, f.frame_no * greatest(length(text) // 4, 1) + 1, 16)) AS frame_sig,
             |  CAST((length(text) % 640) // 2 AS INTEGER) AS resized_w,
             |  CAST(((length(text) * 7) % 480) // 2 AS INTEGER) AS resized_h
             |FROM documents,
             |  (SELECT unnest(range(0, 4)) AS frame_no) f
             |ORDER BY doc_id, frame_no""".stripMargin)),

    // Feature extraction: the third leg of the multimodal quartet
    // (decode t11, frames+resize t14, features here). An 8-dim hashed
    // feature vector per payload — the hashing-trick featurization any
    // encoder-less pipeline can run at full scale — produced in the same
    // batched per-partition shape a real embedding model would use (model
    // weights loaded once per partition, rows streamed through). Each
    // feature is 24 bits of a salted md5 scaled to [0,1): integer /
    // 2^24 is exact in a double, so both engines agree bit-for-bit, as
    // does the ascending-fold squared norm.
    "t17_multimodal_features" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val media = Tables.t(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("content"))
          .as[MediaRow]
        media.mapPartitions { batch =>
          // a real extractor would load its model once per partition here
          batch.map(featureStub)
        }.toDF()
          .orderBy("doc_id")
      },
      Some {
        def feat(k: Int): String = {
          val digits = (1 to 6).map { j =>
            s"(instr('0123456789abcdef', substr(md5(concat('$k|', text)), $j, 1)) - 1) * ${math.pow(16, 6 - j).toLong}"
          }.mkString("(", " + ", ")")
          s"CAST($digits AS DOUBLE) / 16777216.0"
        }
        val cols = (1 to 8).map(k => s"${feat(k)} AS f$k").mkString(",\n  ")
        val norm = (1 to 8).map(k => s"f$k*f$k").mkString(" + ")
        s"""WITH f AS (SELECT doc_id,
           |  $cols
           |FROM documents)
           |SELECT doc_id, f1, f2, f3, f4, f5, f6, f7, f8,
           |  $norm AS f_norm
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    // Multimodal DEDUP — the quartet's fourth leg (decode t11, frames
    // t14, features t17, dedup here): image dedup keys on the DECODED
    // signature — (width, height, pixel hash) — not the raw bytes, so
    // re-encoded/container-level variants of the same image collapse
    // (here the stub signature is t11's parsed-offset 32-byte pixel
    // hash; a production pipeline swaps in a pHash at the same seam).
    // At-scale shape = t01's: decode is a batched per-partition map;
    // only (doc_id, dims, 32-hex digest) rows reach the signature-keyed
    // exchange — payload bytes never shuffle; keeper + copy count is
    // one map-side-combinable agg per signature, joined back by
    // signature (planner's choice: fixture groups broadcast, a
    // corpus-scale signature table shuffle-joins with AQE).
    "t58_multimodal_dedup" -> QueryDef(
      (spark, dir) => {
        import spark.implicits._
        val media = Tables.t(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("content"))
          .as[MediaRow]
        val meta = media.mapPartitions { batch =>
          batch.map(r => decodeBmp(MediaRow(r.doc_id, syntheticBmp(r.content))))
        }.toDF().select("doc_id", "width", "height", "frame_hash")
        val groups = meta.groupBy("width", "height", "frame_hash")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        meta.join(groups, Seq("width", "height", "frame_hash"))
          .select(col("doc_id"), col("width"), col("height"),
            col("frame_hash"), col("keep_id"), col("n_copies"),
            (col("doc_id") =!= col("keep_id")).as("is_dup"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(length(text) % 64 + 11 AS INTEGER) AS width,
             |    CAST(length(text) % 48 + 2 AS INTEGER) AS height,
             |    md5(substr(text, 1, 32)) AS frame_hash
             |  FROM documents),
             |g AS (
             |  SELECT width, height, frame_hash, MIN(doc_id) AS keep_id,
             |         COUNT(*) AS n_copies
             |  FROM d GROUP BY width, height, frame_hash)
             |SELECT d.doc_id, d.width, d.height, d.frame_hash, g.keep_id,
             |  g.n_copies, d.doc_id <> g.keep_id AS is_dup
             |FROM d JOIN g USING (width, height, frame_hash)
             |ORDER BY d.doc_id""".stripMargin))
  )

  /** Hashed feature row (8 dims + squared norm). */
  final case class MediaFeatures(doc_id: Long,
      f1: Double, f2: Double, f3: Double, f4: Double,
      f5: Double, f6: Double, f7: Double, f8: Double, f_norm: Double)

  /** STUB feature extractor — salted-md5 hashing-trick features standing
    * in for a learned encoder; 24 high bits per salt, scaled to [0,1). */
  def featureStub(r: MediaRow): MediaFeatures = {
    // null payload → feature of the bare salt, matching the oracle's
    // concat('k|', NULL) which DuckDB treats as 'k|'
    val content = if (r.content == null) Array.empty[Byte] else r.content
    val feats = (1 to 8).map { k =>
      // the 6 leading hex digits = the word's top 24 bits
      val h = Md5.word32(Md5.bytes(s"$k|".getBytes("UTF-8") ++ content), 0)
      (h >>> 8).toDouble / 16777216.0
    }
    val norm = feats.foldLeft(0.0)((a, x) => a + x * x)
    MediaFeatures(r.doc_id, feats(0), feats(1), feats(2), feats(3),
      feats(4), feats(5), feats(6), feats(7), norm)
  }

  /** Frame row emitted by the sampler stub. */
  final case class Frame(doc_id: Long, frame_no: Int, frame_sig: String,
      resized_w: Int, resized_h: Int)

  /** STUB frame sampler + resizer — 4 evenly spaced 16-byte windows stand
    * in for decoded video frames; dimension halving stands in for resize. */
  def frameSampleStub(r: MediaRow): Seq[Frame] = {
    val n = r.content.length
    val step = math.max(n / 4, 1)
    (0 until 4).map { f =>
      val off = f * step
      val frame =
        if (off >= n) Array.empty[Byte]
        else r.content.slice(off, math.min(off + 16, n))
      val sig = Md5.hex(frame)
      Frame(r.doc_id, f, sig, (n % 640) / 2, ((n.toLong * 7) % 480).toInt / 2)
    }
  }
}
