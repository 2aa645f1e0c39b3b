package org.apache.spark.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet footer schemas, through helpers Spark keeps package-private. */
object ParquetFooter {
  /** The schema a schema-less `spark.read.parquet(path)` infers with
    * merging off, under the session's current conf: read from the file
    * inference reads (by path, the first `_common_metadata`, else
    * `_metadata`, else data file) and converted the same way, but on
    * the driver, so no Spark job runs.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    def leaves(f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else fs.listStatus(f.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(new Path(path))).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path"))
    // read as inference reads it: ~1 ms for sf0.01 lineitem on 4 cores,
    // where opening a ParquetFileReader takes ~14 ms
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
  }
}
