package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference engine is pure batch (SURVEY.md §2.10); these are the
  * streaming-native counterparts a live pipeline needs: watermarked
  * tumbling-window aggregation and stateful sessionization via
  * mapGroupsWithState. Batch/stream parity: the windowed aggregation is
  * the streaming form of the q23 time-bucket batch query.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class WindowCount(window_start: Timestamp, event_type: String,
                               n: Long, value_sum: Double)

  final case class Session(user_id: Long, n_events: Long, first_ts: Timestamp,
                           last_ts: Timestamp, total_value: Double)

  /** Watermarked tumbling-window aggregation: counts + value sums per
    * (window, event_type); late events beyond the watermark drop out.
    */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** STREAM-STATIC ENRICHMENT + windowed aggregation — the most
    * common production streaming topology (events joined to a
    * dimension, counted per window × dimension attribute). The
    * static side enters as a broadcast re-resolved per trigger
    * (micro-batch planning re-plans the batch side, so a swapped
    * dimension snapshot is picked up at the next trigger — the
    * standard slowly-changing-dim pattern). The watermark is applied
    * BEFORE the join: event-time stats must come from the raw
    * stream, or an event whose key the dimension drops could never
    * advance the watermark (the flush-sentinel pattern the transcript
    * gates rely on). Keys absent from the dimension drop out (inner
    * join) — the enrichment contract. Returns
    * (window_start, <attrCol>, n, value_sum).
    */
  def enrichedCounts(events: DataFrame, dim: DataFrame, keyCol: String,
                     attrCol: String, window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq(keyCol))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col(attrCol))
      .agg(count(lit(1)).as("n"), sum("value").as("value_sum"))
      .select(col("window.start").as("window_start"), col(attrCol),
        col("n"), col("value_sum"))

  /** Session accumulator state per user (public: the state encoder's
    * generated code needs accessible accessors). */
  final case class SessionState(n: Long, first: Long, last: Long, totalValue: Double)

  /** Stateful sessionization: per-user running session accumulated in
    * mapGroupsWithState state, emitting the updated session per batch.
    * Pass ProcessingTimeTimeout + gapMs to also close sessions after
    * inactivity (the timeout firing emits the final session and clears
    * state); the default NoTimeout keeps sessions open-ended.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout()): Dataset[Session] = {
    // the gap is a wall-clock inactivity duration: only processing-time
    // timeouts carry that semantic (setTimeoutDuration throws at
    // runtime under EventTimeTimeout) — for sessions that close on
    // EVENT time, use [[sessionizeEventTime]]
    require(timeout != GroupStateTimeout.EventTimeTimeout(),
      "sessionize supports NoTimeout or ProcessingTimeTimeout; " +
        "use sessionizeEventTime for event-time session windows")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, Session](timeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Session(userId, s.n, new Timestamp(s.first), new Timestamp(s.last), s.totalValue)
          } else {
            val events = batch.toSeq
            val prev = state.getOption.getOrElse(SessionState(0, Long.MaxValue, Long.MinValue, 0.0))
            val next = events.foldLeft(prev) { (acc, e) =>
              SessionState(acc.n + 1,
                math.min(acc.first, e.ts.getTime), math.max(acc.last, e.ts.getTime),
                acc.totalValue + e.value)
            }
            state.update(next)
            if (timeout != GroupStateTimeout.NoTimeout()) state.setTimeoutDuration(gapMs)
            // interim emission — final emission happens on timeout
            Session(userId, next.n, new Timestamp(next.first), new Timestamp(next.last), next.totalValue)
          }
      }
  }

  /** Event-time sessionization: sessions close `gapMs` of EVENT time
    * after their last event, not wall clock — a replayed day of logs
    * sessionizes identically at any processing speed. Built on the
    * watermark + EventTimeTimeout + setTimeoutTimestamp design:
    *
    *  - each user's open session lives in state; arriving events (the
    *    per-trigger batch is sorted by event time — micro-batches are
    *    not ordered) extend it, or, when a gap larger than `gapMs`
    *    separates them from the session's last event, close it and
    *    start the next one (closed sessions emit immediately);
    *  - the open session arms an event-time timer at `last + gapMs`;
    *    when the watermark (driven by `watermarkDelay` behind max seen
    *    event time) passes that point no in-order event can extend the
    *    session anymore, the timeout fires, and the final session
    *    emits;
    *  - events later than the watermark are dropped by the watermark
    *    filter, so state per user is bounded and a session, once
    *    emitted, is never reopened (Append-mode emissions are final).
    *
    * Out-of-order events within the watermark horizon land in the still
    * -open session correctly (state keeps min/max, the batch sort
    * handles intra-batch disorder).
    */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              Session(userId, s.n, new Timestamp(s.first), new Timestamp(s.last), s.totalValue))
          } else {
            val sorted = batch.toArray.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ArrayBuffer[Session]()
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last > gapMs =>
                  closed += Session(userId, s.n, new Timestamp(s.first),
                    new Timestamp(s.last), s.totalValue)
                  cur = Some(SessionState(1, t, t, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.n + 1, math.min(s.first, t),
                    math.max(s.last, t), s.totalValue + e.value))
                case None =>
                  cur = Some(SessionState(1, t, t, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire gapMs of event time after the last event; a timer
              // at-or-before the current watermark is illegal, so a
              // session the watermark already passed arms for the next
              // instant and closes on the following trigger
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** A fetch request entering the streaming politeness gate. */
  final case class FetchRequest(req_id: Long, ts: Timestamp, url: String)

  /** Gate-internal row shape (public: encoder codegen needs
    * accessible accessors, like [[SessionState]]). */
  final case class GateInput(req_id: Long, url: String,
                             host: String, delay_ms: Long)

  /** Per-host gate state: where the host's timetable frontier stands. */
  final case class HostGate(nextFreeMs: Long, seq: Long)

  final case class ScheduledFetch(req_id: Long, url: String, host: String,
                                  seq: Long, fetch_at_ms: Long)

  /** Streaming politeness rate gate — the stream twin of
    * [[graft.operators.Frontier.fetchSchedule]]: fetch requests arrive
    * as a stream, each host's timetable frontier lives in keyed state
    * (`nextFreeMs`, the per-key "timer" the next grant must wait for),
    * and every request is granted the host's next slot:
    *
    *   fetch_at = nextFree;  nextFree += delay(host)
    *
    * so spacing NEVER resets across micro-batches — the state shape
    * none of the q213–q218 gates exercises (monotone per-key timetable
    * against a broadcast dimension, no watermark, no timeout). The
    * crawl-delay dimension ([[graft.operators.Robots.crawlDelay]]'s
    * output shape) joins the stream as a broadcast BEFORE keying, so
    * the stateful operator stays a pure per-host fold.
    *
    * Determinism contract: within a trigger each host's requests are
    * granted in `req_id` order (micro-batches are unordered); across
    * triggers state carries — the emitted timetable is a pure function
    * of the batch sequence, which is what lets a committed transcript
    * hash-gate it. Like the batch schedule, the gate does not consult
    * the wall clock (`t0Ms` seeds every host); a fetcher executing the
    * timetable applies its own "not before now".
    *
    * Non-http(s) URLs are DROPPED here (documented narrowing vs the
    * batch operator's pass-through: an unbounded stream has no
    * "deferred" bucket to park garbage in — filter upstream).
    */
  def politenessGate(reqs: Dataset[FetchRequest], delays: DataFrame,
                     t0Ms: Long,
                     defaultDelayMs: Long = 1000L): Dataset[ScheduledFetch] = {
    val s = reqs.sparkSession
    import s.implicits._
    val rawHost = regexp_extract(col("url"), "(?i)^https?://([^/?#]+)", 1)
    val keyed = reqs.toDF()
      .withColumn("host", when(rawHost =!= "", lower(rawHost)))
      .filter(col("host").isNotNull)
      .join(broadcast(delays), Seq("host"), "left_outer")
      .select(col("req_id"), col("url"), col("host"),
        coalesce(col("crawl_delay_ms"), lit(defaultDelayMs)).as("delay_ms"))
      .as[GateInput]
    keyed.groupByKey(_.host)
      .flatMapGroupsWithState[HostGate, ScheduledFetch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String, batch: Iterator[GateInput], state: GroupState[HostGate]) =>
          val g0 = state.getOption.getOrElse(HostGate(t0Ms, 0L))
          var next = g0.nextFreeMs
          var sq = g0.seq
          val out = batch.toArray.sortBy(_.req_id).map { r =>
            val granted = ScheduledFetch(r.req_id, r.url, host, sq, next)
            next += r.delay_ms
            sq += 1
            granted
          }
          state.update(HostGate(next, sq))
          out.iterator
      }
  }

  /** Stream-stream interval join: attribute each purchase to the click
    * by the same user within the preceding `window`. Watermarks on both
    * sides bound the join state (late rows beyond them are dropped and
    * their state evicted) — the canonical funnel-attribution shape.
    */
  def clickToPurchase(events: DataFrame, window: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", watermark)
    purchases.join(clicks,
      expr(s"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL $window"))
      .select(col("p_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("c_ts").as("click_ts"), col("p_ts").as("purchase_ts"), col("value"))
  }

  /** Versioned element update (streaming analog of the OSM element
    * history rows: replication diffs arriving out of order).
    */
  final case class ElementUpdate(id: Long, version: Long, visible: Boolean, payload: String)

  /** Streaming latest-version view (F3 as a stream): keeps the
    * max-version row per element id in state and emits a row ONLY when
    * an id's current version advances — out-of-order and duplicate
    * diffs produce no output. Deletions (`visible=false`) are emitted
    * as tombstones so a sink can remove the element; filtering the
    * emissions to `visible` yields exactly the batch
    * `Assemble.current` semantics incrementally (how a planet
    * "current" table stays fresh from minutely replication diffs
    * instead of full re-dumps).
    */
  def currentView(updates: Dataset[ElementUpdate]): Dataset[ElementUpdate] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.id)
      .flatMapGroupsWithState[ElementUpdate, ElementUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (id: Long, batch: Iterator[ElementUpdate], state: GroupState[ElementUpdate]) =>
          val prev = state.getOption
          val best = batch.foldLeft(prev) { (acc, u) =>
            if (acc.forall(_.version < u.version)) Some(u) else acc
          }
          best match {
            case Some(b) if prev.forall(_.version < b.version) =>
              state.update(b)
              Iterator.single(b)
            case _ => Iterator.empty // nothing advanced: no emission, no state write
          }
      }
  }

  /** foreachBatch CDC bridge — the streaming-to-warehouse sink twin of
    * [[currentView]]: where currentView keeps the latest state IN
    * stream state, this maintains it in an external batch SNAPSHOT
    * (parquet dir, Delta/Iceberg table, JDBC — whatever the supplied
    * `read`/`write` address). Each micro-batch is first compacted to
    * ONE row per key (last-writer-wins by `ordCols`, via the
    * partial-aggregatable [[graft.operators.Relational.latestVersionAgg]])
    * and then MERGEd with [[graft.operators.Relational.applyCdc]] —
    * so a batch of a billion CDC rows touching a million keys shuffles
    * a million compacted rows into the merge, and the snapshot scan
    * anti-joins once per trigger.
    *
    * Plug the result into `stream.writeStream.foreachBatch(...)`.
    * foreachBatch gives at-least-once batch delivery on restart; the
    * compact+merge is idempotent for replayed batches (re-applying the
    * same 'U'/'D' rows converges to the same snapshot), which is the
    * standard exactly-once-effect recipe for this sink shape. The
    * caller's `write` must land the new snapshot atomically (temp dir
    * + rename, or a transactional table format) — this helper
    * deliberately does not pick a storage format.
    */
  def cdcForeachBatch(keys: Seq[String], ordCols: Seq[String],
                      opCol: String = "op")(
      read: () => DataFrame,
      write: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(ordCols.nonEmpty, "ordCols must be non-empty")
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val compacted = graft.operators.Relational.latestVersionAgg(
          batch, keys, ordCols.map(col))
        write(graft.operators.Relational.applyCdc(
          read(), compacted, keys, opCol))
      }
  }

  /** foreachBatch DRIFT MONITOR: per micro-batch, score the batch's
    * categorical mix against a fixed reference distribution with
    * [[graft.operators.Profiling.distributionDrift]] and emit the
    * per-category TVD contributions to `sink` — the live "did the
    * upstream feed change under us" alarm (schema drifts loudly;
    * DISTRIBUTION drift is silent until eval drops). The reference is
    * read once per trigger through `reference` (a view over
    * yesterday's profile, a broadcast-small parquet) so a repaired
    * reference takes effect without a stream restart; alerting policy
    * (threshold, paging) belongs to the sink.
    *
    * Per-trigger cost: one map-side-combinable category count over
    * the batch + a category-sized join — no stream state at all,
    * which is the point: drift needs no watermark, no timers, and
    * restarts are trivially safe (each batch scores independently;
    * re-scored batches overwrite idempotently if the sink keys on
    * batch id, which it receives).
    */
  def driftForeachBatch(category: String)(
      reference: () => DataFrame,
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty)
        sink(graft.operators.Profiling.distributionDrift(
          reference(), batch, col(category)), id)

  /** foreachBatch INCREMENTAL DEDUP — the streaming arm of
    * `CurationPipeline.curateIncremental`: each document micro-batch is
    *
    *   1. within-batch exact-deduped (min-id per content hash),
    *   2. anti-joined against the STORE's content hashes
    *      ([[graft.operators.Dedup.incrementalExact]] — hashes
    *      shuffle, never text),
    *   3. cross-LSH'd against the store's banded SIGNATURES
    *      ([[graft.operators.Dedup.minhashLshPairsAcrossStored]] —
    *      yesterday's corpus is never re-shingled), and
    *
    * survivors (plus their own signatures) append to the store through
    * `writeStore`. The store IS the stream state — durable, shared
    * with the batch pipeline, no watermark needed (dedup state must
    * never expire); restarts are safe when `writeStore` is atomic per
    * batch (idempotent re-append needs sink-side batch-id keying, the
    * cdcForeachBatch contract). Within-batch NEAR-dups are deliberately
    * left to the batch pipeline's pair funnel — a micro-batch is small,
    * and running the full LSH within every trigger buys little.
    *
    * `readStore` returns None before the first write; the first batch
    * then seeds the store.
    */
  /** ONE incremental-dedup trigger's survivor computation, as a pure
    * frame transform: within-batch exact dedup (min-id per content
    * hash), store-exact anti-join, cross-LSH against the store's
    * banded signatures, and the survivor-filtered signature frame for
    * the store append. Extracted from [[incrementalDedupForeachBatch]]
    * so the Soak harness measures EXACTLY the per-trigger plan the
    * closure runs (not a re-derivation that could drift). The batch
    * is min-hashed ONCE: the same signature frame feeds the cross-LSH
    * candidates (the operator persists it) and, survivor-filtered,
    * the store write.
    */
  def incrementalDedupSurvivors(batch: DataFrame,
                                store: Option[(DataFrame, DataFrame)],
                                idCol: String, textCol: String,
                                bands: Int = 16, rows: Int = 4,
                                minJaccardPpm: Long = 800000L): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    import graft.operators.CacheRegistry
    // every returned frame is consumed TWICE by the caller (the docs
    // write and the sigs write share the funnel; sigs additionally
    // semi-join the survivors) — pin the per-trigger intermediates so
    // each trigger's exact-dedup/anti-join/LSH funnel executes once,
    // not once per store write (CacheRegistry lifecycle: the
    // foreachBatch closure releases after writeStore returns)
    // Each funnel stage's plan is probe-recorded BEFORE its persist
    // call: persisting rewrites the recorded plan to a bare
    // InMemoryTableScan (all-zero fingerprint — the r15 q206#trigger
    // regression), so the structural gate must capture the pre-cache
    // shape. recordIter forces the frame's physical plan only under
    // PlanFingerprint (enabled=true), where that same frame then skips
    // its cache — harmless at gate scale; Verify/Bench pay nothing.
    val hashed = batch.withColumn("__h", md5(col(textCol)))
    val keepIds = hashed.groupBy("__h").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val rawExact = hashed.join(keepIds, Seq(idCol), "left_semi").drop("__h")
    graft.TriggerPlanProbe.recordIter("stream_incdedup_exact", rawExact)
    val exact = CacheRegistry.persist(rawExact)
    store match {
      case None =>
        (exact, Dedup.bandedSignatures(exact, idCol, col(textCol), bands, rows))
      case Some((docs, sigs)) =>
        val rawAfterExact = Dedup.incrementalExact(exact, docs, idCol, col(textCol))
        graft.TriggerPlanProbe.recordIter("stream_incdedup_store_anti", rawAfterExact)
        val afterExact = CacheRegistry.persist(rawAfterExact)
        val rawIncSigs = Dedup.bandedSignatures(afterExact, idCol, col(textCol), bands, rows)
        graft.TriggerPlanProbe.recordIter("stream_incdedup_sigs", rawIncSigs)
        val incSigs = CacheRegistry.persist(rawIncSigs)
        val nearDup = Dedup.minhashLshPairsAcrossStored(
          afterExact, idCol, col(textCol), docs, sigs,
          bands = bands, rows = rows, minJaccardPpm = minJaccardPpm,
          incomingSignatures = Some(incSigs))
        val rawSurv = afterExact.join(
          nearDup.select(col("inc_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        graft.TriggerPlanProbe.recordIter("stream_incdedup_surv", rawSurv)
        val surv = CacheRegistry.persist(rawSurv)
        (surv, incSigs.join(surv.select(col(idCol).as("doc_id")),
          Seq("doc_id"), "left_semi"))
    }
  }

  def incrementalDedupForeachBatch(idCol: String, textCol: String,
                                   bands: Int = 16, rows: Int = 4,
                                   minJaccardPpm: Long = 800000L)(
      readStore: () => Option[(DataFrame, DataFrame)],
      writeStore: (DataFrame, DataFrame) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val (survivors, survivorSigs) = incrementalDedupSurvivors(
          batch, readStore(), idCol, textCol, bands, rows, minJaccardPpm)
        writeStore(survivors, survivorSigs)
        // operator-internal shingle caches are per-trigger scratch
        graft.operators.CacheRegistry.releaseAll()
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen, keeping state only within the watermark horizon — the
    * streaming form of Dedup.exact for at-least-once sources
    * (replication feeds redeliver; an unbounded `dropDuplicates` would
    * grow state forever at 100 TB/day).
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** File-source streaming read of events-shaped parquet (the
    * readStream entry point for directory-fed pipelines).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(dir)

  /** Run a windowed-count stream into an in-memory sink; returns the
    * query name to select from. Used by specs and demos.
    */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
}
