package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one cache policy for operators and query builders, and the
  * lifecycle tracker for the caches they create INTERNALLY.
  *
  * Policy: every internal cache goes through [[persist]], which picks
  * the storage level (MEMORY_AND_DISK — a cache that outgrows memory
  * spills instead of recomputing its lineage) and registers the frame
  * for [[releaseAll]]. No operator exposes a switch to skip or tune
  * its cache: the cached frame returns the same rows as the uncached
  * one, so the cache changes cost only.
  *
  * Why the registry exists: operators return lazy DataFrames, so they
  * cannot unpersist their own caches — the blocks are still needed
  * when the CALLER finally runs an action. Deferring to Spark's
  * ContextCleaner does not work in a long-lived session: round 5's
  * bench showed q65's unreleased shingle + checkpoint blocks taxing
  * the four queries that ran after it (q34-q38 regressed 1.6-3.8×
  * with their code unchanged). The registry makes the lifecycle
  * explicit: operators persist through it, and the driver mains
  * (Bench, Verify) — or any library caller — call [[releaseAll]] once
  * the consuming action has completed.
  *
  * Deliberate exceptions, which persist directly and release their
  * own blocks:
  *  - `graft.osm.PlanetDump.run`'s shared frames, scoped to one run
  *    and unpersisted in its own `finally` (a global [[releaseAll]]
  *    there would also drop other callers' caches);
  *  - the method-local edge caches of [[Dedup.connectedComponents]]
  *    and [[Graphs.bfsDistances]], unpersisted before they return.
  *
  * Two kinds of entries:
  *  - DataFrames cached through [[persist]] — released with
  *    `df.unpersist`;
  *  - raw RDD ids for `localCheckpoint` blocks (which bypass the
  *    catalog cache) — released through
  *    `sparkContext.getPersistentRDDs`. NOTE a localCheckpoint's
  *    blocks ARE its data (lineage is truncated): release only after
  *    the dependent result has been fully consumed — a further action
  *    on it would fail, not recompute.
  *
  * Thread safety: registration and release are concurrent-safe; the
  * intended pattern (register during one query's planning/execution,
  * release after its action) is sequential per session.
  */
object CacheRegistry {
  private val dfs = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val rdds =
    new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.spark.SparkContext, Int)]()

  /** Cache `df` at MEMORY_AND_DISK and track it for [[releaseAll]].
    * Returns the cached frame.
    */
  def persist(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    dfs.add(cached)
    cached
  }

  /** Track localCheckpoint block RDDs by id (see class doc caveat). */
  def registerRddIds(sc: org.apache.spark.SparkContext, ids: Iterable[Int]): Unit =
    ids.foreach(id => rdds.add((sc, id)))

  /** Unpersist everything registered since the last release. Safe to
    * call when nothing is registered; safe against already-unpersisted
    * entries (unpersist is idempotent, missing RDD ids are skipped).
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = dfs.poll()
    while (df != null) {
      try df.unpersist(blocking) catch { case _: Throwable => () }
      df = dfs.poll()
    }
    var e = rdds.poll()
    while (e != null) {
      val (sc, id) = e
      if (!sc.isStopped)
        sc.getPersistentRDDs.get(id).foreach { r =>
          try r.unpersist(blocking) catch { case _: Throwable => () }
        }
      e = rdds.poll()
    }
  }
}
