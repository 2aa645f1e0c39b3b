package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * processed in partition-sized batches.
  *
  * The container-header decode ([[decodeImageHeader]]) is REAL — PNG
  * IHDR and JPEG SOF parsing are pure byte arithmetic, no codec
  * library needed — and runs batched inside `mapPartitions`, the call
  * shape a vectorized pixel decoder (batch in, batch out) uses. Only
  * the pixel-level FEATURE is a stand-in (a deterministic byte-fold;
  * this environment ships no image codecs): swapping
  * [[byteFoldFeature]] for a real embedding model changes no plumbing.
  */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = false)))

  /** Parsed container metadata: (mime, width, height, channels,
    * bit_depth); unrecognized payloads report octet-stream with zeros.
    */
  final case class ImageMeta(mime: String, width: Int, height: Int,
                             channels: Int, bitDepth: Int)

  private val UnknownMeta = ImageMeta("application/octet-stream", 0, 0, 0, 0)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** REAL image-container header decode — pure byte arithmetic over the
    * blob, no codec dependency:
    *
    *   - PNG: verify the 8-byte signature, then read the IHDR chunk
    *     the spec requires first — width/height as big-endian u32 at
    *     bytes 16/20, bit depth at 24, color type at 25 (channels:
    *     gray 1, rgb 3, palette 1, gray+α 2, rgba 4).
    *   - JPEG: verify SOI, then SCAN the marker stream — standalone
    *     markers skipped, variable-length segments (APPn/COM/DQT/DHT…)
    *     skipped by their big-endian length field — to the first
    *     start-of-frame (SOF0-15 minus DHT/JPG/DAC), which carries
    *     sample precision, height, width, component count.
    *
    * Truncated or unrecognized payloads return octet-stream zeros
    * rather than throwing — at corpus scale a malformed blob must
    * score, not kill the stage.
    */
  private[graft] def decodeImageHeader(blob: Array[Byte]): ImageMeta = {
    if (blob.length >= 26 && blob.startsWith(PngSig) &&
        blob(12) == 'I' && blob(13) == 'H' && blob(14) == 'D' && blob(15) == 'R') {
      val channels = blob(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => 0
      }
      ImageMeta("image/png", be32(blob, 16), be32(blob, 20), channels,
        blob(24) & 0xff)
    } else if (blob.length >= 4 && (blob(0) & 0xff) == 0xff &&
        (blob(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 1 < blob.length && (blob(i) & 0xff) == 0xff) {
        // spec-legal fill: any run of 0xFF bytes may pad before a
        // marker (ITU-T T.81 §B.1.1.2) — skip to the last 0xFF so the
        // byte after it is the marker, not another 0xFF
        while (i + 2 < blob.length && (blob(i + 1) & 0xff) == 0xff) i += 1
        val marker = blob(i + 1) & 0xff
        if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          i += 2 // standalone marker, no length field
        } else if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOFn: len(2) precision(1) height(2) width(2) ncomp(1)
          if (i + 9 >= blob.length) return UnknownMeta
          return ImageMeta("image/jpeg", be16(blob, i + 7), be16(blob, i + 5),
            blob(i + 9) & 0xff, blob(i + 4) & 0xff)
        } else {
          if (i + 3 >= blob.length) return UnknownMeta
          i += 2 + be16(blob, i + 2)
        }
      }
      UnknownMeta
    } else UnknownMeta
  }

  /** Build an opaque binary column + metadata from the documents table
    * (stand-in for real image/audio bytes).
    */
  def packBlobs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("blob"),
      struct(
        lit("application/x-fake").as("mime"),
        (length(col("text")) % 64 * 16).cast("int").as("width"),
        (length(col("text")) % 48 * 16).cast("int").as("height")).as("meta"))

  /** Deterministic REAL-IMAGE fixture: every document becomes a valid
    * image container — PNG for even ids (signature + IHDR with
    * id-derived dimensions, RGBA/8), JPEG for odd ids (SOI + JFIF APP0
    * + a VARIABLE-LENGTH comment segment, so the SOF offset differs per
    * row and a decoder must actually scan the marker stream + SOF0
    * 3-component/8-bit) — followed by the document's UTF-8 bytes as
    * payload. Built entirely from codegen'd hex-string expressions +
    * one `unhex`, and bit-reproducible by an external SQL engine, which
    * is what lets q199/q33 hash-verify the decoder.
    */
  def packImageBlobs(documents: DataFrame): DataFrame = {
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      lpad(hex(pmod(col("doc_id"), lit(512)) + 16), 8, "0"),
      lpad(hex(pmod(col("doc_id"), lit(384)) + 16), 8, "0"),
      lit("08" + "06" + "000000" + "00000000"))
    val commentLen = pmod(col("doc_id"), lit(7))
    val jpgHex = concat(
      lit("FFD8" + "FFE000104A46494600010100000100010000"),
      lit("FFFE"), lpad(hex(commentLen + 2), 4, "0"),
      repeat(lit("41"), commentLen.cast("int")),
      lit("FFC0" + "0011" + "08"),
      lpad(hex(pmod(col("doc_id"), lit(768)) + 16), 4, "0"),
      lpad(hex(pmod(col("doc_id"), lit(1024)) + 16), 4, "0"),
      lit("03" + "012200" + "021101" + "031101"))
    documents.select(col("doc_id"),
      concat(
        unhex(when(pmod(col("doc_id"), lit(2)) === 0, pngHex).otherwise(jpgHex)),
        encode(col("text"), "UTF-8")).as("blob"))
  }

  /** Pixel-feature STAND-IN (no codecs in this environment): folds the
    * blob's bytes into an 8-dim feature, double-accumulated in
    * ascending index order and narrowed to float once — exact byte
    * arithmetic an oracle engine reproduces bit-for-bit. A real
    * embedding model drops in here without touching the plumbing.
    */
  private def byteFoldFeature(blob: Array[Byte]): Array[Float] = {
    val acc = new Array[Double](8)
    var i = 0
    while (i < blob.length) {
      acc(i % 8) += (blob(i) & 0xff) / 255.0
      i += 1
    }
    acc.map(_.toFloat)
  }

  /** Batched decode + feature extraction over the binary column:
    * container metadata via the REAL [[decodeImageHeader]], pixel
    * feature via [[byteFoldFeature]]. `batchSize` models the decoder's
    * batch shape (GPU/vectorized decoders want fixed-size batches, not
    * row-at-a-time); the batch boundary is where a real decoder would
    * submit one call.
    */
  def extractFeatures(blobs: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = Encoders.row(featureSchema)
    blobs.select("doc_id", "blob").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val blob = r.getAs[Array[Byte]]("blob")
          val m = decodeImageHeader(blob)
          Row(r.getAs[Long]("doc_id"), blob.length.toLong,
            m.mime, m.width, m.height, m.channels, m.bitDepth,
            byteFoldFeature(blob).toSeq)
        }
      }
    }(enc)
  }

  /** Binary near-duplicate pairs by ALIGNED CHUNK FINGERPRINTS — the
    * storage-dedup move (fixed-size chunking + per-chunk hash) applied
    * to opaque media columns: two blobs are near-dups when ≥
    * `minShared` of their position-aligned `chunkBytes` chunks are
    * byte-identical (re-encoded copies, watermarked variants, padded
    * twins). Text-side dedup can't see these — the payload is binary.
    *
    * Scale shape (the duplicateSpans discipline, on bytes):
    *
    *   1. chunks explode ONCE; each chunk immediately becomes its
    *      8-byte `xxhash64` — chunk BYTES never shuffle;
    *   2. a (idx, hash) census drops chunks shared by more than
    *      `maxDocsPerChunk` blobs (all-zero padding blocks, shared
    *      headers: quadratic cost, zero dedup signal — the hot-bucket
    *      blacklist);
    *   3. the surviving 8-byte keys self-join on (idx, hash), one
    *      (a, b) count, two id-keyed joins attach chunk totals.
    *
    * overlap_ppm is against the SMALLER blob (containment — a short
    * clip fully inside a long one scores 10⁶). A 64-bit collision
    * would fabricate a pair; the gate's content-equality oracle
    * witnesses zero collisions on real data. Returns
    * (id_a, id_b, n_shared, n_chunks_a, n_chunks_b, overlap_ppm).
    */
  def chunkHashPairs(blobs: DataFrame, idCol: String, blobCol: String,
                     chunkBytes: Int = 64, minShared: Long = 2,
                     maxDocsPerChunk: Long = 1000): DataFrame = {
    require(chunkBytes >= 1, s"chunkBytes must be positive, got $chunkBytes")
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    val nChunks = ceil(length(col(blobCol)).cast("double") / chunkBytes).cast("long")
    // the hashed-chunk projection feeds the hot census AND both join
    // sides — persist it (CacheRegistry lifecycle) so the blob decode
    // and hashing run one corpus pass, not three
    val chunks = CacheRegistry.persist(blobs
      .select(col(idCol).as("__id"), col(blobCol).as("__b"), nChunks.as("__nc"))
      .filter(col("__nc") > 0)
      .select(col("__id"), col("__nc"),
        posexplode(transform(sequence(lit(0L), col("__nc") - 1),
          i => xxhash64(substring(col("__b"),
            (i * chunkBytes + 1).cast("int"), lit(chunkBytes))))))
      .select(col("__id"), col("__nc"), col("pos").as("__idx"), col("col").as("__h")))
    val hot = chunks.groupBy("__idx", "__h").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") > maxDocsPerChunk)
      .select("__idx", "__h")
    val kept = chunks.join(broadcast(hot), Seq("__idx", "__h"), "left_anti")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.__idx") === col("y.__idx") && col("x.__h") === col("y.__h") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        col("x.__nc").as("n_chunks_a"), col("y.__nc").as("n_chunks_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"),
        max("n_chunks_a").as("n_chunks_a"), max("n_chunks_b").as("n_chunks_b"))
      .filter(col("n_shared") >= minShared)
    pairs.select(col("id_a"), col("id_b"), col("n_shared"),
      col("n_chunks_a"), col("n_chunks_b"),
      expr("(1000000 * n_shared) div least(n_chunks_a, n_chunks_b)")
        .as("overlap_ppm"))
  }

  /** Frame-sample analogue: take every `stride`-th chunk of the blob as
    * a "frame" (binary slices with an index — the video-frame shape).
    */
  def sampleFrames(blobs: DataFrame, frameBytes: Int = 32, stride: Int = 4): DataFrame =
    blobs.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest((length(col("blob")) / (frameBytes * stride)).cast("int") - 1, lit(0))),
          i => substring(col("blob"), (i * frameBytes * stride + 1).cast("int"), lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
      .withColumn("frame_bytes", length(col("frame")).cast("long"))
}
