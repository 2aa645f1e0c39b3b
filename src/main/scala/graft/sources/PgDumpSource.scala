package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import graft.osm.{CopyDecoder, Schema}

/** DataSourceV2 reader for pg_dump custom archives, and the one COPY
  * text reader: [[graft.osm.Load]] reads every table through it.
  *
  * {{{
  * spark.read.format("pgdump")
  *   .option("table", "nodes")
  *   .option("staging", "/work/staging")   // pg_restore text cache dir
  *   .load("/path/dump.pgdump")
  *   .select("id", "timestamp")            // pruned at the decoder
  * }}}
  *
  * The archive itself is sequential (reference reads it through
  * `pg_restore` too, `src/dump_reader.cpp:656-663`), so the provider
  * stages the table's COPY text once driver-side, then plans byte-range
  * input partitions over the staged text — each reader aligns to the
  * next line boundary after its split start (Hadoop-text-style) and
  * decodes rows with column pruning pushed into the decoder: only the
  * columns Catalyst asks for are parsed (an empty projection — a bare
  * count — decodes nothing per row).
  *
  * Staged text lives at `<staging>/<UUID of Load.dumpId>/<table>.txt`
  * (a name-based UUID of the dump's identity stamp), so a staging
  * directory shared by two dumps never serves one dump's text for the
  * other, and staging again for the same dump is a no-op. It must be
  * visible to the executors: local disk in local mode, shared storage
  * on a cluster.
  */
class PgDumpSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "pgdump"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schema.byName(options.get("table")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PgDumpTable(properties.get("table"), properties.get("path"),
      Option(properties.get("staging")).getOrElse("pgdump-staging"))

  override def supportsExternalMetadata(): Boolean = false
}

final class PgDumpTable(tableName: String, dumpPath: String, staging: String)
    extends Table with SupportsRead {
  require(tableName != null, "option 'table' is required")
  require(dumpPath != null, "a load path (the dump file) is required")

  private val tableDef = Schema.byName(tableName)

  override def name(): String = s"pgdump:$tableName"
  override def schema(): StructType = tableDef.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgDumpScanBuilder(tableDef, dumpPath, staging)
}

final class PgDumpScanBuilder(tableDef: Schema.Table, dumpPath: String, staging: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = tableDef.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema // empty = count-style scan, decode nothing

  override def build(): Scan = new PgDumpScan(tableDef, dumpPath, staging, required)
}

final class PgDumpScan(tableDef: Schema.Table, dumpPath: String, staging: String,
                       required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side staging (idempotent, keyed by the dump's identity), like the
    // reference's pg_restore subprocess; executors then read byte ranges of the text
    val dumpKey = java.util.UUID.nameUUIDFromBytes(graft.osm.Load.dumpId(dumpPath).getBytes("UTF-8"))
    val textPath = graft.osm.Load.stage(dumpPath, tableDef.name, s"$staging/$dumpKey")
    val size = new java.io.File(textPath).length()
    // the split size Spark's file sources derive from the session
    // (FilePartition.maxSplitBytes); the readers align any cut to lines
    val conf = SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val split = math.max(1L, math.min(conf.filesMaxPartitionBytes, math.max(openCost,
      (size + openCost) / SparkSession.active.sparkContext.defaultParallelism)))
    val nSplits = math.max(1L, (size + split - 1) / split)
    (0L until nSplits).map(i =>
      PgDumpPartition(textPath, i * split, math.min((i + 1) * split, size)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgDumpReaderFactory(tableDef, required)
}

final case class PgDumpPartition(textPath: String, start: Long, end: Long)
    extends InputPartition

final class PgDumpReaderFactory(tableDef: Schema.Table, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PgDumpPartitionReader(tableDef, required, p.asInstanceOf[PgDumpPartition])
}

/** Reads [start, end) of the staged COPY text, aligned to lines: skips
  * to the first line beginning after `start` (unless start == 0) and
  * finishes the line spanning `end`. Decodes only `required` columns.
  */
final class PgDumpPartitionReader(tableDef: Schema.Table, required: StructType,
                                  p: PgDumpPartition) extends PartitionReader[InternalRow] {

  private val raf = new java.io.RandomAccessFile(p.textPath, "r")
  private val in = new java.io.BufferedInputStream(
    java.nio.channels.Channels.newInputStream(raf.getChannel.position(p.start)), 1 << 16)
  private var pos: Long = p.start
  if (p.start > 0) skipLine() // partial line belongs to the previous split

  // header-driven reorder for the full table row, then project to the
  // required subset (pruning = those columns are never parsed)
  private val dumpCols = CopyDecoder.parseCopyHeader(graft.osm.Load.copyHeader(p.textPath))
  private val prunedTable = tableDef.copy(
    cols = required.fields.map(f => tableDef.cols.find(_.name == f.name).get).toSeq)
  private val parser = CopyDecoder.rowParser(prunedTable,
    CopyDecoder.reorder(prunedTable, dumpCols))
  private val toInternal =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(required).createSerializer()

  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (pos > p.end) return false // line starting past end belongs to next split
      val line = readLine()
      if (line == null) return false
      if (CopyDecoder.isDataLine(line)) {
        current = toInternal(parser(line)).copy()
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()

  private def skipLine(): Unit = {
    var c = in.read()
    while (c != -1 && c != '\n') { pos += 1; c = in.read() }
    if (c != -1) pos += 1
  }

  private def readLine(): String = {
    val buf = new java.io.ByteArrayOutputStream(256)
    var c = in.read()
    if (c == -1) return null
    while (c != -1 && c != '\n') { buf.write(c); pos += 1; c = in.read() }
    if (c != -1) pos += 1
    new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }
}
