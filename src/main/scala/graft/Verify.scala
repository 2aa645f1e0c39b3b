package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder("graft-verify", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only: SPARK_GRAFT_VERIFY_FILTER='q8[789].*' dumps a subset for
    // fast iteration with selfcheck.py; the driver never sets it.
    val nameFilter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.matches(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_VERIFY_TRACE")) e.printStackTrace()
        // remove the partial dir so the driver's per-directory glob
        // compare fails only this query, not the whole run
        val d = new java.io.File(s"$outDir/$name")
        if (d.isDirectory) {
          java.nio.file.Files.walk(d.toPath)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.delete(f))
        }
      }
      // operator-internal caches (shingles / curate prefix / CC
      // checkpoints) are per-query scratch — drop them after the write
      // so 75 queries don't accumulate 75 queries' worth of blocks
      graft.operators.CacheRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
