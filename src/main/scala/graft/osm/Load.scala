package graft.osm

import java.nio.file.{Files, Paths}
import scala.io.Source
import scala.sys.process._
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Load phase: pg_dump custom archive → per-table sorted Parquet.
  *
  * Reference behavior (S1–S6, O2): 12 tables extracted concurrently via
  * `pg_restore -a -t <table>` (`src/dump_archive.cpp:94-119`,
  * `src/dump_reader.cpp:656-663`), rows decoded and externally sorted by
  * the table's key prefix, with a running max-timestamp folded across
  * tables (`src/planet-dump.cpp:144-151`).
  *
  * Spark shape: the pg_restore stage is a driver-side subprocess (the
  * archive format is sequential by nature); everything after the staged
  * text is distributed — `spark.read.textFile` → decoder `map` →
  * `repartitionByRange(sortKeys).sortWithinPartitions` → Parquet. The
  * external merge sort, spill management, and merge cascades of the
  * reference are Catalyst's `ExchangeExec`+`SortExec` here. Re-runs skip
  * tables whose Parquet output already exists (resume, S6).
  */
object Load {

  /** Find the COPY header line of a staged table text file. */
  def copyHeader(textPath: String): String = {
    val src = Source.fromFile(textPath, "UTF-8")
    try src.getLines().find(_.startsWith("COPY "))
      .getOrElse(throw new IllegalStateException(s"no COPY header in $textPath"))
    finally src.close()
  }

  /** Decode one staged table text file into a typed DataFrame. */
  def decodeTable(spark: SparkSession, table: Schema.Table, textPath: String): DataFrame = {
    val idx = CopyDecoder.reorder(table, CopyDecoder.parseCopyHeader(copyHeader(textPath)))
    val enc = Encoders.row(table.schema)
    val parser = CopyDecoder.rowParser(table, idx)
    spark.read.textFile(textPath)
      .filter(CopyDecoder.isDataLine _)
      .map(parser)(enc)
  }

  /** Extract one table to staging text via pg_restore; returns the path.
    * No-op if already staged (resume).
    */
  def stage(dumpFile: String, table: String, stagingDir: String): String = {
    Files.createDirectories(Paths.get(stagingDir))
    val out = s"$stagingDir/$table.txt"
    if (!Files.exists(Paths.get(out))) {
      // attempt-unique tmp name: concurrent callers staging the same
      // table each write their own file. On POSIX, ATOMIC_MOVE maps to
      // rename(2), which silently REPLACES an existing target — so when
      // two callers race, the loser's move overwrites the winner's file
      // with identical bytes (both came from the same dump), which is
      // fine. The catch handles platforms whose atomic move refuses to
      // replace instead of overwriting. NOTE: this race-safety only
      // covers stage() itself — a concurrent Load.run with
      // resume = false wipes the whole staging dir (see run()'s
      // exclusive-ownership requirement).
      val tmp = s"$out.${java.util.UUID.randomUUID().toString.take(8)}.tmp"
      val cmd = Seq("pg_restore", "-a", "-f", tmp, "-t", table, dumpFile)
      val rc = cmd.!
      require(rc == 0, s"pg_restore failed ($rc) for table $table")
      try Files.move(Paths.get(tmp), Paths.get(out),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(Paths.get(tmp)) // another caller won the race
      }
    }
    out
  }

  /** Identity stamp of a dump file: size, mtime, and an md5 of the
    * first 64 KiB — cheap to compute, and any replaced or repacked dump
    * changes it.
    */
  def dumpId(dumpFile: String): String = {
    val p = Paths.get(dumpFile)
    val in = Files.newInputStream(p)
    val head = try {
      val buf = new Array[Byte](65536)
      var off = 0
      var r = 0
      while (off < buf.length && { r = in.read(buf, off, buf.length - off); r > 0 }) off += r
      java.util.Arrays.copyOf(buf, off)
    } finally in.close()
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(head)
      .map("%02x".format(_)).mkString
    s"size=${Files.size(p)} mtime=${Files.getLastModifiedTime(p).toMillis} head=$md5"
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Full load: stage + decode + sorted-parquet every table; returns the
    * global max timestamp (reference planet `timestamp` attr / "now"),
    * or None when the dump has no timestamped rows (empty dump →
    * neg-infinity path, `src/xml_writer.cpp:86-88`). A table written in
    * this run contributes the max observed on its own Parquet write (an
    * [[Observation]], no extra job); only a table skipped on resume is
    * read back for it, with its known schema.
    *
    * Resume semantics (S6; reference `src/planet-dump.cpp:55-57`
    * re-extracts unless `--resume`): with `resume = true`, staged text
    * and `_SUCCESS`-complete table dirs are reused — but only when the
    * dump file's identity stamp matches the one recorded in
    * `workDir/_dump_id`. Pointing the same workDir at a different dump
    * invalidates everything instead of silently emitting a planet for
    * the old dump. `resume = false` (the reference's default posture)
    * always starts from scratch — it WIPES `staging/` and `tables/`.
    * The wipe decision is made FIRST, and EVERY wiping run — non-resume
    * OR a resume pointed at a different dump than `_dump_id` records —
    * takes an exclusive `workDir/.lock` for its whole duration and
    * FAILS FAST if one is already present (reference posture: one
    * process owns the dump dirs) — a second concurrent destructive run
    * aborts instead of wiping in-flight staging. Concurrent callers
    * sharing a workDir are only safe when every one of them passes
    * `resume = true` against the SAME dump file (those runs neither
    * wipe nor lock). A lock left behind by a crashed run must be
    * removed manually (the file records pid + start time).
    *
    * `maxConcurrency` caps how many tables are staged / submitted at
    * once (the reference's `--max-concurrency` semaphore over writer
    * threads, `src/planet-dump.cpp:58-59`): it bounds the concurrent
    * pg_restore subprocesses and the concurrently-submitted Spark jobs,
    * not just shuffle width. Default: the shared fork-join pool, one
    * slot per core.
    */
  def run(spark: SparkSession, dumpFile: String, workDir: String,
          resume: Boolean = true,
          maxConcurrency: Option[Int] = None): Option[java.sql.Timestamp] = {
    val staging = s"$workDir/staging"
    val tablesDir = s"$workDir/tables"
    Files.createDirectories(Paths.get(workDir))
    // decide the wipe FIRST: non-resume always wipes; a resume run
    // wipes too when its dump differs from the recorded _dump_id —
    // either way the run is destructive and must own the workDir
    val id = dumpId(dumpFile)
    val idPath = Paths.get(workDir, "_dump_id")
    val prior =
      if (Files.exists(idPath))
        Some(new String(Files.readAllBytes(idPath), java.nio.charset.StandardCharsets.UTF_8))
      else None
    val wipe = !resume || !prior.contains(id)
    // exclusive ownership for destructive runs: Files.createFile is
    // atomic (O_CREAT|O_EXCL) — exactly one of two concurrent
    // destructive runs wins; the loser aborts BEFORE wiping
    val lockPath = Paths.get(workDir, ".lock")
    val lock =
      if (!wipe) None
      else
        try Some(Files.createFile(lockPath))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new IllegalStateException(
              s"$lockPath exists: another destructive run owns this workDir " +
                s"(or crashed and left the lock — " +
                s"${new String(Files.readAllBytes(lockPath)).trim}); " +
                "remove the lock file to proceed")
        }
    lock.foreach(p => Files.write(p,
      s"pid=${ProcessHandle.current().pid()} start=${java.time.Instant.now()}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    try {
      if (wipe) {
        deleteRecursively(Paths.get(staging))
        deleteRecursively(Paths.get(tablesDir))
      }
      Files.write(idPath, id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // driver-side staging in parallel — one subprocess per table, like
      // the reference's 12 extraction threads (capped at maxConcurrency)
      Bounded.map(Schema.all, maxConcurrency)(t => stage(dumpFile, t.name, staging))
      // decode→sort→parquet jobs are independent per table: submit them
      // concurrently (Spark schedules across the 12 jobs' stages) instead
      // of draining the cluster between tables
      val db = OsmDb(spark, tablesDir)
      val maxTimes = Bounded.map(Schema.all, maxConcurrency) { t =>
        val out = s"$tablesDir/${t.name}"
        if (Files.exists(Paths.get(s"$out/_SUCCESS")))
          t.maxTimeCol.flatMap(c =>
            Option(db.table(t.name).agg(max(col(c))).head().getTimestamp(0)))
        else {
          val sortCols = t.sortKeys.map(col)
          val sorted = decodeTable(spark, t, s"$staging/${t.name}.txt")
            .repartitionByRange(sortCols: _*)
            .sortWithinPartitions(sortCols: _*)
          def write(df: DataFrame): Unit = df.write.mode("overwrite").parquet(out)
          t.maxTimeCol match {
            case None => write(sorted); None
            case Some(c) =>
              // observed on the write itself, above the range exchange,
              // so its sampling job does not evaluate the max
              val obs = Observation()
              write(sorted.observe(obs, max(col(c)).as("max")))
              Option(obs.get("max").asInstanceOf[java.sql.Timestamp])
          }
        }
      }
      maxTimes.flatten match {
        case Nil => None
        case ts => Some(ts.maxBy(_.getTime))
      }
    } finally lock.foreach(Files.deleteIfExists(_))
  }
}

/** Handle to a loaded dump directory (Parquet per table). Tables read
  * with their known [[Schema]], so no read runs a schema-inference job.
  */
final case class OsmDb(spark: SparkSession, tablesDir: String) {
  def table(name: String): DataFrame =
    spark.read.schema(Schema.byName(name).schema).parquet(s"$tablesDir/$name")
  def changesets: DataFrame = table("changesets")
  def nodes: DataFrame = table("nodes")
  def ways: DataFrame = table("ways")
  def relations: DataFrame = table("relations")
  def users: DataFrame = table("users")
}
