package graft.osm.pbf

/** Minimal protobuf wire-format encoder (hand-rolled; no protobuf
  * runtime dependency). Implements exactly what OSMPBF needs: varint,
  * zigzag, length-delimited fields, packed repeated scalars — per the
  * public protobuf encoding spec and the public OSM-binary
  * fileformat/osmformat definitions.
  */
object Proto {

  def zigzag64(v: Long): Long = (v << 1) ^ (v >> 63)
  def zigzag32(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL

  def varintSize(v0: Long): Int = {
    var v = v0
    var n = 1
    while ((v & ~0x7fL) != 0) { n += 1; v >>>= 7 }
    n
  }

  /** int32 fields encode negatives as 10-byte varints (sign-extended). */
  def int32Size(v: Int): Int = if (v >= 0) varintSize(v.toLong) else 10

  def tag(field: Int, wireType: Int): Int = (field << 3) | wireType

  /** Growable output buffer. */
  final class Out(initial: Int = 1 << 12) {
    private var buf = new Array[Byte](initial)
    private var len = 0

    def size: Int = len
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)

    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length * 2
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }

    def writeRaw(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length }

    def writeVarint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      buf(len) = v.toByte; len += 1
    }

    def writeInt32(v: Int): Unit = writeVarint(v.toLong) // sign-extends to 10 bytes when negative

    def writeTag(field: Int, wireType: Int): Unit = writeVarint(tag(field, wireType).toLong)

    def writeBytesField(field: Int, b: Array[Byte]): Unit = {
      writeTag(field, 2); writeVarint(b.length.toLong); writeRaw(b)
    }

    def writeStringField(field: Int, s: String): Unit =
      writeBytesField(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def writeVarintField(field: Int, v: Long): Unit = { writeTag(field, 0); writeVarint(v) }
  }

  /** Growable Long buffer for packed repeated fields. */
  final class LongBuf(initial: Int = 64) {
    private var a = new Array[Long](initial)
    private var n = 0
    def size: Int = n
    def apply(i: Int): Long = a(i)
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v; n += 1
    }
    def clear(): Unit = n = 0

    def payloadSizeVarint: Int = { var s = 0; var i = 0; while (i < n) { s += varintSize(a(i)); i += 1 }; s }
    def payloadSizeZigzag: Int = { var s = 0; var i = 0; while (i < n) { s += varintSize(zigzag64(a(i))); i += 1 }; s }

    def writePackedVarint(out: Out, field: Int): Unit = if (n > 0) {
      out.writeTag(field, 2); out.writeVarint(payloadSizeVarint.toLong)
      var i = 0; while (i < n) { out.writeVarint(a(i)); i += 1 }
    }
    def writePackedZigzag(out: Out, field: Int): Unit = if (n > 0) {
      out.writeTag(field, 2); out.writeVarint(payloadSizeZigzag.toLong)
      var i = 0; while (i < n) { out.writeVarint(zigzag64(a(i))); i += 1 }
    }
    /** packed sint32 (zigzag32) */
    def writePackedZigzag32(out: Out, field: Int): Unit = if (n > 0) {
      out.writeTag(field, 2); out.writeVarint(payloadSizeZigzag32.toLong)
      var i = 0; while (i < n) { out.writeVarint(zigzag32(a(i).toInt)); i += 1 }
    }
    def payloadSizeZigzag32: Int = { var s = 0; var i = 0; while (i < n) { s += varintSize(zigzag32(a(i).toInt)); i += 1 }; s }
    /** packed int32 (sign-extended when negative) */
    def writePackedInt32(out: Out, field: Int): Unit = if (n > 0) {
      out.writeTag(field, 2); out.writeVarint(payloadSizeInt32.toLong)
      var i = 0; while (i < n) { out.writeInt32(a(i).toInt); i += 1 }
    }
    def payloadSizeInt32: Int = { var s = 0; var i = 0; while (i < n) { s += int32Size(a(i).toInt); i += 1 }; s }
  }

  /** zlib (RFC 1950) level-9 deflate — byte-identical to the zlib the
    * reference drives through protobuf's GzipOutputStream (verified
    * against the golden blobs).
    */
  def zlib9(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(9, false)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }
}
