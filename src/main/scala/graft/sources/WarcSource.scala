package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 reader for WARC archives:
  *
  * {{{
  * spark.read.format("warc")
  *   .load("/crawl/segment-00")            // dir of *.warc / *.warc.gz (or one file)
  *   .filter($"warc_type" === "response")  // pushed: non-matching records never materialize payload
  *   .select("target_uri", "payload")      // pruned: unneeded columns never allocated
  * }}}
  *
  * Partitioning: ONE input partition per file, read by one task, for
  * batch and streaming alike. Gzip members are not byte-range
  * splittable without a side index, and the format's own deployment
  * convention (Common Crawl: ~90k files × ~1 GiB per crawl) gives
  * file-level parallelism more splits than executors on any real
  * cluster. Each reader streams records sequentially in O(one record)
  * memory, so `warc_offset` is always the record's offset in the
  * decompressed stream.
  *
  * Pushdown surface:
  *  - column pruning ([[SupportsPushDownRequiredColumns]]): a scan
  *    that doesn't ask for `payload` SKIPS payload bytes instead of
  *    buffering them — `count(*)` over a crawl never allocates a body;
  *  - `warc_type` equality/IN ([[SupportsPushDownFilters]]): filtered
  *    records are dropped inside the reader BEFORE payload
  *    materialization (a Common Crawl file is ⅓ response, ⅓ request,
  *    ⅓ metadata records — the standard `warc_type = 'response'`
  *    query reads a third of the bytes it would otherwise). Pushed
  *    filters are also kept as residuals (Spark re-applies them),
  *    trading a no-op re-check for zero correctness risk.
  */
class WarcSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Warc.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

final class WarcTable(path: String) extends Table with SupportsRead {
  require(path != null, "a load path (file or directory) is required")

  override def name(): String = s"warc:$path"
  override def schema(): StructType = Warc.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path)
}

final class WarcScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = Warc.schema
  private var typeFilter: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("warc_type", _: String) => true
      case In("warc_type", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    if (ours.nonEmpty) {
      val sets = ours.map {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case f => sys.error(s"unreachable: $f")
      }
      // conjunction of pushed predicates = intersection of admit-sets
      typeFilter = Some(sets.reduce(_ intersect _))
      pushed = ours
    }
    // everything stays residual: Spark re-applies, we only pre-drop
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WarcScan(path, required, typeFilter)
}

final class WarcScan(path: String, required: StructType,
                     typeFilter: Option[Set[String]]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val files = WarcScan.list(path)
    require(files.nonEmpty, s"no .warc/.warc.gz files under $path")
    files.map(f => WarcPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, typeFilter)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(path, required, typeFilter)
}

object WarcScan {
  /** All WARC files under `path` (or `path` itself), sorted by NAME —
    * the order both the batch planner and the streaming watermark use.
    */
  def list(path: String): Array[String] = {
    val root = new java.io.File(path)
    if (root.isDirectory)
      Option(root.listFiles((_, n) =>
          n.endsWith(".warc") || n.endsWith(".warc.gz")))
        .getOrElse(Array.empty).map(_.getPath).sorted
    else Array(path)
  }
}

/** Streaming WARC ingestion — `spark.readStream.format("warc")`:
  * each micro-batch picks up files that arrived since the last
  * trigger. The offset is a NAME high-watermark: files are
  * processed in lexicographic name order and a batch covers
  * `(start, end]` in that order — which matches how crawl output is
  * actually laid down (Common Crawl segments and WARC part files
  * are timestamp/sequence-named, so arrival order IS name order,
  * and a single string offset stays checkpoint-friendly). A file
  * landing with a name BELOW the committed watermark is never
  * picked up — the documented contract (same immutable-file
  * assumption as Spark's own file source; name your shards
  * monotonically, as [[Warc.export]] does). Files must be complete
  * when they appear — write-then-rename, which the sink's
  * attempt-unique tmp + atomic rename already guarantees.
  */
final class WarcMicroBatchStream(path: String, required: StructType,
                                 typeFilter: Option[Set[String]])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class WarcOffset(last: String) extends Offset {
    override def json(): String =
      "{\"last\":\"" + last.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}"
  }

  override def initialOffset(): Offset = WarcOffset("")

  override def latestOffset(): Offset = {
    val fs = WarcScan.list(path)
    WarcOffset(if (fs.isEmpty) "" else fs.last)
  }

  override def deserializeOffset(json: String): Offset = {
    val m = "\\{\"last\":\"(.*)\"\\}".r.findFirstMatchIn(json)
    require(m.isDefined, s"malformed warc stream offset: $json")
    WarcOffset(m.get.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WarcOffset].last
    val e = end.asInstanceOf[WarcOffset].last
    WarcScan.list(path).filter(f => f > s && f <= e)
      .map(f => WarcPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, typeFilter)
}

final case class WarcPartition(file: String) extends InputPartition

final class WarcReaderFactory(required: StructType,
                              typeFilter: Option[Set[String]])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(required, typeFilter,
      p.asInstanceOf[WarcPartition].file)
}

/** Streams one file's records, encoding the `required` columns of each
  * admitted record (PgDumpPartitionReader-style row encoding).
  */
final class WarcPartitionReader(required: StructType,
                                typeFilter: Option[Set[String]], file: String)
    extends PartitionReader[InternalRow] {

  private val needPayload = required.fieldNames.contains("payload")
  private val reader = new Warc.RecordReader(
    new java.io.FileInputStream(file), new java.io.File(file).getName,
    readPayload = needPayload)

  private val fieldOf: Array[Warc.Record => Any] = required.fieldNames.map {
    case "warc_file" => (r: Warc.Record) => r.file
    case "warc_offset" => (r: Warc.Record) => r.offset
    case "record_id" => (r: Warc.Record) => r.id
    case "warc_type" => (r: Warc.Record) => r.warcType
    case "target_uri" => (r: Warc.Record) => r.uri
    case "warc_date" => (r: Warc.Record) => {
      val ts = new java.sql.Timestamp(r.dateMicros / 1000L)
      ts.setNanos(((r.dateMicros % 1000000L) * 1000L).toInt)
      ts
    }
    case "content_type" => (r: Warc.Record) => r.contentType
    case "content_length" => (r: Warc.Record) => r.length
    case "refers_to" => (r: Warc.Record) => r.refersTo
    case "payload_digest" => (r: Warc.Record) => r.payloadDigest
    case "payload" => (r: Warc.Record) => r.payload
    case other => sys.error(s"unknown WARC column $other")
  }
  private val toInternal =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(required)
      .createSerializer()

  private var current: InternalRow = _

  private val admit: String => Boolean =
    t => typeFilter.forall(_.contains(t))

  override def next(): Boolean = {
    while (true) {
      val rec = reader.next(admit)
      if (rec == null) return false
      if (admit(rec.warcType)) {
        current = toInternal(org.apache.spark.sql.Row.fromSeq(
          fieldOf.toIndexedSeq.map(_(rec)))).copy()
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
