package graft.osm

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders}

/** Ordered partitioned sink with task-retry safety: each non-empty
  * partition writes to an attempt-unique temp file, atomically renames
  * on success (so a retried/speculative attempt can never leave an
  * interleaved or partial final part), and the driver concatenates
  * exactly the parts the job reported — verified present — in numeric
  * partition order (name-sorting broke past 5 digits of partitions).
  * Shared by the XML and parallel-PBF sinks.
  */
private[osm] object PartSink {

  private def partPath(dir: Path, pid: Int): Path = dir.resolve(f"part-$pid%09d.bin")

  /** Write one file per non-empty partition; returns the written
    * partition ids as reported by the completed job.
    */
  def writeParts[T](ds: Dataset[T], dir: Path)(write: (Iterator[T], OutputStream) => Unit): Seq[Int] = {
    Files.createDirectories(dir)
    val dirStr = dir.toString
    val ids = ds.mapPartitions { it =>
      if (it.hasNext) {
        val tc = TaskContext.get()
        val pid = tc.partitionId()
        val tmp = Paths.get(dirStr, f"part-$pid%09d.tmp-attempt-${tc.taskAttemptId()}")
        val os = new BufferedOutputStream(new FileOutputStream(tmp.toFile), 1 << 16)
        try write(it, os) finally os.close()
        Files.move(tmp, Paths.get(dirStr, f"part-$pid%09d.bin"),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        Iterator.single(pid)
      } else Iterator.empty
    }(Encoders.scalaInt).collect().toSeq
    val missing = ids.filterNot(pid => Files.exists(partPath(dir, pid)))
    require(missing.isEmpty, s"partitioned sink lost parts $missing in $dir")
    ids
  }

  /** Concatenate the reported parts into `out` in partition order. */
  def concat(out: OutputStream, dir: Path, ids: Seq[Int]): Unit =
    ids.sorted.foreach(pid => Files.copy(partPath(dir, pid), out))

  /** `p` and everything under it, if present; a file that vanishes
    * during the walk is tolerated.
    */
  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
