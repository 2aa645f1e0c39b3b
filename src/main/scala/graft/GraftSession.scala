package graft

import org.apache.spark.sql.SparkSession

/** The query engine's one session profile. Every query main (Bench,
  * Verify, PlanFingerprint, Explain, Soak and the `graft.queries` dump
  * harnesses) and every spec (through the test trait
  * `graft.SparkSpec`) builds its session here, so the plan gates
  * certify the configuration the bench runs. `graft.osm.PlanetDump`'s
  * main keeps its own builder: its master is a deployment setting.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The profile at `cpus` cores: AQE on, shuffle partitions match
    * cores, UTC, no UI.
    */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // The generated-code cache defaults to 100 entries; the composed
    // crawl/graph gates alone carry 100+ codegen fragments each, so
    // the suite thrashed it — every stage re-ran Janino INSIDE the
    // first task while its 31 siblings blocked on the loading cache
    // (measured r15: q262 task time 466s -> 17s with the larger
    // cache; stage profiles showed runTime 15-45s at 0.4-0.7s CPU).
    // Size-adaptive by nature (it is a driver/executor compile cache,
    // not a data knob).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // The 10 MB default broadcast threshold sits exactly where the
    // cached doc-grain dimensions of the verify joins hover (the
    // 5000-doc shingle frame measures ~8-12 MB depending on
    // compression), so AQE flip-flopped BroadcastHash <-> SortMerge
    // run to run — q143 was bimodal 2.5 s / 40 s on IDENTICAL code
    // (the SMJ sorts 600k array-carrying rows). 64 MB is a routine
    // production setting on >=8 GB executors: size the threshold to
    // what the executors can hold, don't trust estimates at the
    // boundary.
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // ContextCleaner only reclaims broadcast/accumulator/shuffle state
    // when a JVM GC runs; at 24g the suite goes many minutes between
    // GCs, so hundreds of queries' debris piles up and the big
    // composite plans ran 2-5x slower at the suite tail than in
    // isolation (q267 30s in-suite vs 4.7s isolated, r15 measured).
    // 30s periodic GC is Spark's own recommended lever for exactly
    // this (default 30min); untimed work — it runs on the cleaner
    // thread, between queries as well as during them.
    "spark.cleaner.periodicGC.interval" -> "30s")

  /** A `local[cpus]` builder carrying [[settings]]; callers chain any
    * static conf of their own before `getOrCreate()`.
    */
  def builder(appName: String, cpus: Int): SparkSession.Builder =
    settings(cpus).foldLeft(
      SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
