package graft.osm

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import org.apache.spark.sql.Dataset

/** Ordered single-file compressed XML sink (K1 transport).
  *
  * The reference pipes one libxml2 stream through `bzip2 -c`
  * (`src/xml_writer.cpp:58-79`) — a single-threaded choke point. Here
  * each sorted range partition compresses its own complete stream
  * in parallel on the executors (via the retry-safe [[PartSink]]), and
  * the driver concatenates the streams in partition order (bzip2-family
  * formats are multistream-concatenation-safe: decompression of the
  * concatenation yields the concatenation of the payloads). At planet
  * scale the parts land on shared storage; the concat is a byte-level
  * copy, not a recompress.
  *
  * One file is one write job, whatever its section count: the sections
  * run as the union of their sorted Datasets, whose partitions come in
  * union order — every partition of the first section, in its own
  * order, then the second's — so part order is section order, then
  * range order within a section.
  *
  * `compressCommand` mirrors the reference's `--compress-command`: an
  * external stdin→stdout compressor run per partition (see
  * [[Compression]]); None uses the built-in bzip2 codec.
  */
object XmlSink {

  def write(outPath: String, header: String, sections: Seq[Dataset[String]],
            compressCommand: Option[String] = None): Unit = {
    val partsRoot = Paths.get(outPath + ".parts")
    PartSink.deleteRecursive(partsRoot)
    val ids = PartSink.writeParts(sections.reduce(_ union _), partsRoot) { (it, os) =>
      Compression.compressTo(os, compressCommand) { cs =>
        it.foreach(s => cs.write(s.getBytes(UTF_8)))
      }
    }
    val out = new BufferedOutputStream(new FileOutputStream(outPath), 1 << 16)
    try {
      Compression.compressTo(out, compressCommand)(_.write(header.getBytes(UTF_8)))
      PartSink.concat(out, partsRoot, ids)
      Compression.compressTo(out, compressCommand)(_.write(XmlFormat.footer.getBytes(UTF_8)))
    } finally out.close()
    PartSink.deleteRecursive(partsRoot)
  }
}
