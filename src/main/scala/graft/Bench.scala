package graft

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: queries execute through the noop sink — full plan runs
  * (joins, aggregates, formatting) with nothing collected — because a
  * bare count() would let Catalyst prune most of the work. A warmup
  * query amortizes session/codegen startup out of the first
  * measurement. The session is [[GraftSession]]'s profile. Gates with
  * a [[graft.queries.QueryDef]] `prepare` hook get their scratch
  * fixtures materialized OUTSIDE the timed window (the q251
  * discipline: WARC synthesis I/O made the gate un-adjudicable).
  *
  * The PERSISTED json file (not the stdout contract line) also
  * carries `starts`: each query's start offset in seconds from the
  * first timed query, keyed `"@<name>"` (the `@` keeps the
  * driver-tail query regex from confusing offsets with timings).
  * `anchors.py compare` uses execution adjacency + offsets to label
  * contiguous slow WINDOWS (box contention) apart from isolated
  * regressions (code).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_REPEAT=N (dev-only; driver never sets it): time
    // each query N times in this JVM, report the MEDIAN, print each
    // run to stderr — the noise protocol's within-JVM variance probe
    // (stable repeats + unstable fresh JVMs = startup/JIT; unstable
    // repeats = contention or nondeterministic work)
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)

    def executeOnce(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // release operator-internal caches (LSH shingles, curate's exact
      // prefix, CC label checkpoints) once the action is done — round 5
      // showed stale blocks from q65 taxing the next four queries; the
      // release is OUTSIDE the timed window (it is session hygiene, not
      // part of the query)
      graft.operators.CacheRegistry.releaseAll()
      (elapsed, ok)
    }

    def execute(name: String): (Double, Boolean) =
      if (repeat == 1) executeOnce(name)
      else {
        val runs = (1 to repeat).map(_ => executeOnce(name))
        System.err.println(s"[bench] $name repeats: " +
          runs.map(r => f"${r._1}%.2f").mkString(" "))
        val sorted = runs.map(_._1).sorted
        (sorted(sorted.size / 2), runs.forall(_._2))
      }

    // SPARK_GRAFT_BENCH_FILTER=<regex>: run only matching queries (dev
    // iteration / standalone per-query measurement; driver never sets it)
    val allNames = SparkEntry.allQueries.map(_.name)
    val names = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(f => allNames.filter(_.matches(f))).getOrElse(allNames)
    // warmup: run the cheapest scan-shaped query once, untimed; drop any
    // caches it registered so the timed run of the same query is honest
    try SparkEntry.queries(names.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    graft.operators.CacheRegistry.releaseAll()

    val t00 = System.nanoTime()
    val results = names.map { n =>
      // fixture preparation is session setup, not query work: run it
      // untimed (idempotent — the lambda self-triggers it elsewhere)
      SparkEntry.prepares.get(n).foreach { p =>
        try p(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $n prepare failed: ${e.getMessage}")
        }
      }
      val startOff = (System.nanoTime() - t00) / 1e9
      (n, execute(n), startOff)
    }
    val qs = results.map { case (k, (v, _), _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failed queries still count their elapsed time toward the total (a
    // crash must never IMPROVE the headline metric) and are listed
    val total = results.map(_._2._1).sum
    val failed = results.collect { case (k, (_, false), _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val starts = results.map { case (k, _, off) =>
      "\"@" + k + "\":" + math.rint(off * 1000) / 1000 }.mkString("{", ",", "}")
    def jsonStr(x: String): String =
      "\"" + x.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    // the stdout line is the DRIVER CONTRACT — exactly the r1-r14 key
    // set (metric/value/unit/queries/failed/sf). The r15 addition of a
    // "starts" object doubled the line length and the driver's log-tail
    // capture truncated it mid-line (BENCH_r15 parsed: null); offsets
    // are diagnostics, so they live in the persisted file only
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":${jsonStr(sfDir)}}"""
    println(line)
    // also persist to a file — the stdout line is the contract, but log
    // tails get truncated (round 4 lost q01-q06 and the total that way);
    // the file additionally carries the per-query start offsets that
    // anchors.py uses to adjudicate contiguous slow windows
    val fileLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"starts":$starts,"sf":${jsonStr(sfDir)}}"""
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json"))
    java.nio.file.Files.write(out,
      (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
