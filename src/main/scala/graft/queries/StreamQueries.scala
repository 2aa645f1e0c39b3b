package graft.queries

import graft.Tables
import graft.operators.Relational.cents
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** CORRECTNESS gates for the streaming operator family — each drives
  * the ACTUAL foreachBatch closure (the per-trigger logic a
  * `writeStream.foreachBatch(...)` would run) over a deterministic
  * sequence of batch DataFrames, with the external store realized as
  * real parquet dirs (the durable-sink contract the operators
  * document). The MemoryStream specs in EventStreamsSpec keep the
  * watermark/state semantics; these gates hash-verify the per-trigger
  * TRANSFORM against the DuckDB oracle — the q57/q121 batch-parity
  * precedent applied to the three foreachBatch operators, closing the
  * one operator family that had no CORRECTNESS row (r7 verdict #1).
  */
object StreamQueries {

  /** Unique memory-sink names: the same gate re-run in one JVM (Bench
    * iterations, fingerprinting) must not append into a previous
    * run's accumulated sink table. */
  private val sinkId = new java.util.concurrent.atomic.AtomicLong()

  /** COMMITTED-TRANSCRIPT driver for the watermark/state streaming
    * gates (q213–q218): runs the ACTUAL streaming operator — a real
    * StreamingQuery with watermarks, state store, event-time timers —
    * over a fixed MemoryStream micro-batch sequence, one trigger per
    * `batches` element (addData + processAllAvailable pin the batch
    * boundaries, so the watermark trajectory is deterministic), and
    * returns the accumulated memory-sink table. This is the q204
    * pattern extended from foreachBatch closures to the full
    * engine-managed path: what the oracle checks is no longer just
    * the per-trigger TRANSFORM but the watermark/late-data/timeout
    * behavior itself.
    *
    * Batches are materialized driver-side to feed MemoryStream — the
    * transcript HARNESS, not the operator (the operator under test
    * sees a stream; a production pipeline feeds it from Kafka/files).
    */
  private def runTranscript[T](s: SparkSession, name: String,
      batches: Seq[Seq[T]], mode: OutputMode)(
      pipe: Dataset[T] => DataFrame)(implicit enc: Encoder[T]): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // a stateful streaming query allocates ONE state store per shuffle
    // partition per stateful operator PER TRIGGER (a stream-stream
    // join: four per partition) — at the session's 32 partitions the
    // transcript's handful of micro-batches is pure store-init
    // overhead (measured: q216's 9-event fixture cost 9.7 s). Four
    // partitions still exercise multi-partition state + watermark
    // aggregation across partitions; every gate's output is
    // partition-count-independent (keyed state, aggregations). The
    // streaming query CAPTURES the conf at start, so restoring after
    // start() cannot re-shard a running query mid-transcript.
    val prior = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val input = MemoryStream[T]
    val nm = s"${name}_${sinkId.incrementAndGet()}"
    val q =
      try pipe(input.toDS()).writeStream.format("memory")
        .queryName(nm).outputMode(mode).start()
      finally s.conf.set("spark.sql.shuffle.partitions", prior)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      // last trigger's IncrementalExecution → the fingerprint gate
      graft.TriggerPlanProbe.record(name, q)
    } finally q.stop()
    s.table(nm)
  }

  private def tsOf(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  /** The three-way day-sliced batch split shared by the data-driven
    * transcript gates (the q205 convention): batch of an event =
    * (epoch-day of ts) mod 3, fed in order 0, 1, 2. Because the
    * testdata's 30 January days interleave across the three batches,
    * batch 1 arrives mostly BEHIND batch 0's watermark — the natural
    * late-data torture the gates need. One collect brings every row
    * with its batch; each batch keeps the frame's row order. */
  private[queries] def daySlicedBatches[T](df: DataFrame)(
      implicit enc: Encoder[T]): Seq[Seq[T]] = {
    val rows = df.select(expr("(unix_micros(ts) div 86400000000) % 3").as("_1"),
        struct(enc.schema.fieldNames.toSeq.map(col): _*).as("_2"))
      .where(col("_1").isNotNull)
      .as(Encoders.tuple(Encoders.scalaLong, enc)).collect()
    (0L until 3L).map(k => rows.iterator.collect { case (b, t) if b == k => t }.toSeq)
  }

  /** Oracle for q213: the watermark algebra of the 3-batch day-sliced
    * replay in closed form. The watermark IN EFFECT during batch k is
    * the millisecond-floored max event time over batches < k minus
    * the 2-hour delay (Spark tracks event-time stats in ms); a row
    * survives iff its 1-hour tumbling window's END is above that
    * watermark (the state for earlier windows is already evicted);
    * the final sentinel batch (2025-01-01, appended by the gate but
    * absent from this oracle's data) drives the closing watermark
    * past every 2024 window, so exactly the surviving aggregates
    * emit in Append mode — and the sentinel's own window, never
    * crossed, does not.
    */
  private val windowedCountsOracleSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) AS us, event_type, value,
      |         CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS b
      |  FROM events),
      |bm AS (SELECT b, max(us) AS mx FROM ev GROUP BY b),
      |wm AS (
      |  SELECT e.b,
      |         (max(m.mx) // 1000 - 7200000) * 1000 AS wm_us
      |  FROM (SELECT DISTINCT b FROM ev) e
      |  LEFT JOIN bm m ON m.b < e.b GROUP BY e.b),
      |keep AS (
      |  SELECT e.us - e.us % 3600000000 AS wstart, e.event_type, e.value
      |  FROM ev e JOIN wm ON wm.b = e.b
      |  WHERE wm.wm_us IS NULL OR e.us - e.us % 3600000000 + 3600000000 > wm.wm_us)
      |SELECT make_timestamp(wstart) AS window_start, event_type,
      |       count(*) AS n,
      |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
      |FROM keep GROUP BY 1, 2
      |HAVING min(wstart) + 3600000000 <= (1735689630000000 // 1000 - 7200000) * 1000""".stripMargin

  /** Oracle for q214: sessionize (NoTimeout) emits one INTERIM
    * cumulative session per (user, batch-with-events) in Update mode
    * — the accumulated sink is exactly the per-batch prefix
    * aggregates. State keeps first/last as java.sql.Timestamp
    * MILLIS, so the oracle ms-floors the micros.
    */
  private val sessionizeUpdateOracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, value,
      |         CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS b
      |  FROM events),
      |pb AS (
      |  SELECT user_id, b, count(*) AS n, min(us) AS mn, max(us) AS mx,
      |         sum(value) AS sv
      |  FROM ev GROUP BY 1, 2),
      |cum AS (
      |  SELECT user_id,
      |         CAST(sum(n) OVER w AS BIGINT) AS n_events,
      |         min(mn) OVER w AS first_us,
      |         max(mx) OVER w AS last_us,
      |         sum(sv) OVER w AS total_value
      |  FROM pb WINDOW w AS (PARTITION BY user_id ORDER BY b
      |                       ROWS UNBOUNDED PRECEDING))
      |SELECT user_id, n_events,
      |       make_timestamp(first_us // 1000 * 1000) AS first_ts,
      |       make_timestamp(last_us // 1000 * 1000) AS last_ts,
      |       CAST(round(total_value * 100) AS BIGINT) AS value_cents
      |FROM cum""".stripMargin

  /** Oracle for q218: currentView emits exactly when a key's max
    * version ADVANCES across the batch sequence — per (id, batch) the
    * batch's argmax-by-version row, kept iff it beats the running max
    * of earlier batches (event_id is unique, so the argmax is
    * unambiguous). Out-of-order/duplicate diffs produce no row —
    * which the day-sliced split guarantees plenty of, since event ids
    * rise with time and later batches contain earlier days.
    */
  private val currentViewOracleSql: String =
    """WITH ev AS (
      |  SELECT user_id AS id, event_id AS ver,
      |         event_type <> 'purchase' AS visible, event_type AS payload,
      |         CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS b
      |  FROM events),
      |best AS (
      |  SELECT id, b, ver, visible, payload FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id, b
      |                                 ORDER BY ver DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |c AS (
      |  SELECT *, max(ver) OVER (PARTITION BY id ORDER BY b
      |                           ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND 1 PRECEDING) AS prev
      |  FROM best)
      |SELECT id, ver AS version, visible, payload
      |FROM c WHERE prev IS NULL OR ver > prev""".stripMargin

  /** Oracle for q204: the three-batch CDC replay collapses to "per
    * key, the max-(batch, ver) change wins; op 'D' removes; untouched
    * keys keep the base row" — the algebraic closed form of folding
    * compact-then-merge over the batch sequence.
    */
  private val cdcReplayOracleSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(0 AS BIGINT) AS ver, o_totalprice
      |  FROM orders),
      |changes AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT) AS ver,
      |         o_totalprice * 2 AS o_totalprice, 'U' AS op, 1 AS batch
      |  FROM base WHERE o_orderkey % 10 = 5
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(2 AS BIGINT),
      |         o_totalprice * 3, 'U', 1
      |  FROM base WHERE o_orderkey % 10 = 5
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT),
      |         o_totalprice, 'D', 1
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT),
      |         o_totalprice + 1000, 'U', 2
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT),
      |         o_totalprice, 'D', 2
      |  FROM base WHERE o_orderkey % 10 = 5
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(2 AS BIGINT),
      |         o_totalprice + 2000, 'U', 3
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT),
      |         o_totalprice * 10, 'U', 3
      |  FROM base WHERE o_orderkey % 10 = 7
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(1 AS BIGINT),
      |         o_totalprice * 4, 'U', 3
      |  FROM base WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, CAST(2 AS BIGINT),
      |         o_totalprice, 'D', 3
      |  FROM base WHERE o_orderkey % 10 = 3),
      |last AS (
      |  SELECT * FROM changes
      |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
      |                             ORDER BY batch DESC, ver DESC) = 1),
      |merged AS (
      |  SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.ver, b.o_totalprice
      |  FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM last l WHERE l.o_orderkey = b.o_orderkey)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, ver, o_totalprice
      |  FROM last WHERE op = 'U')
      |SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |       o_orderstatus, ver
      |FROM merged""".stripMargin

  /** Oracle for q205: per non-empty batch, the q152 drift SQL with the
    * batch's own total as n_b's denominator — categories present in
    * the reference but absent from the batch (and vice versa) carry
    * their full mass as drift, exactly distributionDrift's full-outer.
    */
  private val driftMonitorOracleSql: String =
    """WITH ref AS (
      |  SELECT event_type AS category, count(*) AS n_a
      |  FROM events WHERE epoch_us(ts) < 1705363200000000 GROUP BY 1),
      |ta AS (SELECT CAST(sum(n_a) AS BIGINT) AS t FROM ref),
      |bt AS (
      |  SELECT CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS batch_id,
      |         event_type AS category, count(*) AS n_b
      |  FROM events WHERE epoch_us(ts) >= 1705363200000000 GROUP BY 1, 2),
      |tb AS (SELECT batch_id, CAST(sum(n_b) AS BIGINT) AS t FROM bt GROUP BY 1),
      |spine AS (SELECT DISTINCT batch_id FROM bt),
      |cats AS (
      |  SELECT s.batch_id, r.category FROM spine s CROSS JOIN ref r
      |  UNION
      |  SELECT batch_id, category FROM bt),
      |j AS (
      |  SELECT c.batch_id, c.category,
      |         CAST(coalesce(r.n_a, 0) AS BIGINT) AS n_a,
      |         CAST(coalesce(b.n_b, 0) AS BIGINT) AS n_b
      |  FROM cats c
      |  LEFT JOIN ref r ON r.category = c.category
      |  LEFT JOIN bt b ON b.batch_id = c.batch_id AND b.category = c.category)
      |SELECT j.batch_id, j.category, j.n_a, j.n_b,
      |       CAST((1000000 * abs(j.n_a * tb.t - j.n_b * ta.t))
      |            // (2 * ta.t * tb.t) AS BIGINT) AS tvd_contrib_ppm
      |FROM j JOIN tb ON tb.batch_id = j.batch_id CROSS JOIN ta""".stripMargin

  /** Oracle for q206: the three-trigger incremental-dedup fold,
    * sequentially — within-batch exact keepers (min doc_id per md5),
    * then per batch k the drops against the running survivor store:
    * exact (md5 equality with any survivor) or near-dup (a verified
    * xxhash64-LSH pair at >= 800000 ppm with any survivor). The LSH
    * chain is the bit-exact q29 rebuild (minhashXxPairCtes) over the
    * within-batch keepers; signatures depend only on a doc's own text,
    * so one global chain serves every trigger and the sequencing lives
    * entirely in the survivor CTEs.
    */
  private val incrementalDedupOracleSql: String =
    s"""WITH docsrc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000, text FROM documents WHERE doc_id % 50 = 0),
       |batched AS (
       |  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch_id, text FROM docsrc),
       |wb AS (
       |  SELECT doc_id, batch_id, text FROM (
       |    SELECT doc_id, batch_id, text,
       |           min(doc_id) OVER (PARTITION BY batch_id, md5(text)) AS mn
       |    FROM batched) WHERE doc_id = mn),
       |${TextQueries.minhashXxPairCtes("wb")},
       |nd AS (
       |  SELECT id_a, id_b FROM lshpairs WHERE jaccard_ppm >= 800000
       |  UNION
       |  SELECT id_b, id_a FROM lshpairs WHERE jaccard_ppm >= 800000),
       |s0 AS (SELECT doc_id, batch_id, text FROM wb WHERE batch_id = 0),
       |s1 AS (
       |  SELECT * FROM s0
       |  UNION ALL
       |  SELECT w.doc_id, w.batch_id, w.text FROM wb w
       |  WHERE w.batch_id = 1
       |    AND NOT EXISTS (SELECT 1 FROM s0 e WHERE md5(e.text) = md5(w.text))
       |    AND NOT EXISTS (SELECT 1 FROM nd JOIN s0 e ON nd.id_b = e.doc_id
       |                    WHERE nd.id_a = w.doc_id)),
       |s2 AS (
       |  SELECT * FROM s1
       |  UNION ALL
       |  SELECT w.doc_id, w.batch_id, w.text FROM wb w
       |  WHERE w.batch_id = 2
       |    AND NOT EXISTS (SELECT 1 FROM s1 e WHERE md5(e.text) = md5(w.text))
       |    AND NOT EXISTS (SELECT 1 FROM nd JOIN s1 e ON nd.id_b = e.doc_id
       |                    WHERE nd.id_a = w.doc_id))
       |SELECT doc_id, batch_id FROM s2""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // STREAMING CDC SINK REPLAY: EventStreams.cdcForeachBatch — the
    // per-trigger compact (latestVersionAgg, max ver per key within
    // the batch) + merge (applyCdc) closure — driven over three change
    // batches against a REAL parquet snapshot (ping-pong dirs: each
    // trigger reads snap_{k-1}, writes snap_k — the atomic-swap
    // contract the operator documents). Covers: within-batch
    // compaction (key updated twice, ver 2 wins), delete, resurrect
    // after delete, cross-batch override, and same-batch U-then-D
    // (compaction keeps the D → key gone). The oracle is the fold's
    // closed form: max-(batch, ver) change per key.
    QueryDef.sql("q204_stream_cdc_replay", cdcReplayOracleSql) {
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), lit(0L).as("ver"), col("o_totalprice"))
        def u(m: Int, ver: Long, price: Column => Column): DataFrame =
          o.filter(col("o_orderkey") % 10 === m).withColumn("ver", lit(ver))
            .withColumn("o_totalprice", price(col("o_totalprice")))
            .withColumn("op", lit("U"))
        def del(m: Int, ver: Long): DataFrame =
          o.filter(col("o_orderkey") % 10 === m).withColumn("ver", lit(ver))
            .withColumn("op", lit("D"))
        val b1 = u(5, 1, _ * 2).unionByName(u(5, 2, _ * 3)).unionByName(del(0, 1))
        val b2 = u(0, 1, _ + 1000).unionByName(del(5, 1))
        val b3 = u(0, 2, _ + 2000).unionByName(u(7, 1, _ * 10))
          .unionByName(u(3, 1, _ * 4)).unionByName(del(3, 2))
        val root = graft.operators.Scratch.dir(
          s"graft_cdc_replay_${new java.io.File(d).getName}")
        var snap = s"$root/snap_0"
        var k = 0
        o.write.mode("overwrite").parquet(snap)
        val fn = EventStreams.cdcForeachBatch(Seq("o_orderkey"), Seq("ver"))(
          () => Tables.parquet(s, snap),
          df => {
            graft.TriggerPlanProbe.record("q204_stream_cdc_replay", df)
            k += 1
            val p = s"$root/snap_$k"
            df.write.mode("overwrite").parquet(p)
            snap = p
          })
        fn(b1, 1L); fn(b2, 2L); fn(b3, 3L)
        Tables.parquet(s, snap).select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"),
          col("ver"))
      }
    },

    // STREAMING DRIFT MONITOR: EventStreams.driftForeachBatch — the
    // per-trigger distributionDrift-against-reference closure — driven
    // over three event micro-batches (second half-month, split by day
    // mod 3) against the first half-month as the fixed reference; the
    // sink tags each emission with its batch id, exactly what a
    // metrics table keyed on batch id would store. Empty batches emit
    // nothing (the closure's isEmpty guard); every batch here is
    // non-empty at all gate SFs (verified against the testdata).
    QueryDef.sql("q205_stream_drift_monitor", driftMonitorOracleSql) {
      (s, d) => {
        val cut = 1705363200000000L // 2024-01-16T00:00Z, the q152 split
        val ev = Tables.events(s, d).withColumn("__us", unix_micros(col("ts")))
        val ref = ev.filter(col("__us") < cut).select(col("event_type"))
        val rest = ev.filter(col("__us") >= cut)
          .withColumn("__b", expr("(__us div 86400000000) % 3"))
        val outs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val fn = EventStreams.driftForeachBatch("event_type")(
          () => ref,
          (df, id) => {
            graft.TriggerPlanProbe.record("q205_stream_drift_monitor", df)
            outs += df.withColumn("batch_id", lit(id))
          })
        (0L until 3L).foreach(k => fn(rest.filter(col("__b") === k), k))
        outs.reduce(_.unionByName(_))
          .select(col("batch_id"), col("category"), col("n_a"), col("n_b"),
            col("tvd_contrib_ppm"))
      }
    },

    // STREAMING INCREMENTAL DEDUP: EventStreams.
    // incrementalDedupForeachBatch — the per-trigger within-batch
    // exact dedup + store-exact anti-join + cross-LSH-vs-stored-
    // signatures closure — driven over three document micro-batches
    // (doc_id mod 3) with the store as REAL parquet dirs (one docs +
    // sigs dir per trigger: append-as-new-dirs, so no plan ever reads
    // the dir it is writing). The input replays every 50th doc under a
    // new id in a LATER batch so the exact path provably drops rows;
    // the corpus's own >= 0.9-jaccard near-dup families exercise the
    // LSH path at the operator's default 800000 ppm threshold. Output
    // is the final store: every surviving doc with the trigger that
    // admitted it.
    QueryDef.sql("q206_stream_incremental_dedup", incrementalDedupOracleSql) {
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val src = base.unionByName(
            base.filter(col("doc_id") % 50 === 0)
              .withColumn("doc_id", col("doc_id") + 1000L))
          .withColumn("batch_id", col("doc_id") % 3)
        val root = graft.operators.Scratch.dir(
          s"graft_incdedup_${new java.io.File(d).getName}")
        var docDirs = Vector.empty[String]
        var sigDirs = Vector.empty[String]
        val fn = EventStreams.incrementalDedupForeachBatch("doc_id", "text")(
          () => if (docDirs.isEmpty) None
                else Some((Tables.parquet(s, docDirs: _*), Tables.parquet(s, sigDirs: _*))),
          (dd, sg) => {
            // trigger-internal plans are recorded by the OPERATOR
            // (stream_incdedup_*#iter keys), pre-persist — recording
            // `dd` here would fingerprint a bare InMemoryTableScan
            val k = docDirs.size
            dd.write.mode("overwrite").parquet(s"$root/docs_$k")
            sg.write.mode("overwrite").parquet(s"$root/sigs_$k")
            docDirs :+= s"$root/docs_$k"
            sigDirs :+= s"$root/sigs_$k"
          })
        (0L until 3L).foreach(k => fn(src.filter(col("batch_id") === k), k))
        Tables.parquet(s, docDirs: _*).select(col("doc_id"), col("batch_id"))
      }
    },

    // WATERMARKED WINDOWED AGGREGATION TRANSCRIPT: the ACTUAL
    // EventStreams.windowedCounts streaming query (watermark "2 hours",
    // 1-hour tumbling windows, Append mode) over the day-sliced
    // 3-batch replay plus a far-future sentinel flush batch. The
    // interleaved days make most of batches 1–2 LATE relative to the
    // watermark batch 0 established — their evicted windows drop; the
    // tail near each batch's frontier survives; the sentinel drives
    // the closing watermark past every 2024 window so Append emits
    // exactly the survivors (the sentinel's own window, never crossed,
    // stays unemitted and out of the sink). The oracle is the
    // watermark algebra in closed form — ms-floored max-prior-batch
    // event time minus delay, window kept iff its END clears it.
    QueryDef.sql("q213_stream_windowed_counts", windowedCountsOracleSql) {
      (s, d) => {
        import s.implicits._
        val batches = daySlicedBatches[EventStreams.Event](Tables.events(s, d))
        val sentinel = Seq(EventStreams.Event(
          -1L, tsOf("2025-01-01T00:00:30Z"), -1L, "flush", 0.0))
        runTranscript(s, "q213_stream_windowed_counts", batches :+ sentinel, OutputMode.Append()) {
          (ds: Dataset[EventStreams.Event]) =>
            EventStreams.windowedCounts(ds.toDF(), "1 hour", "2 hours")
        }.select(col("window_start"), col("event_type"), col("n"),
          cents(col("value_sum")).as("value_cents"))
      }
    },

    // STATEFUL SESSIONIZATION TRANSCRIPT: the ACTUAL
    // EventStreams.sessionize mapGroupsWithState query (NoTimeout,
    // Update mode) over the day-sliced 3-batch replay. Every batch a
    // user appears in emits that user's CUMULATIVE session snapshot
    // (count / ms-floored first / last / value sum), so the
    // accumulated Update sink equals the per-batch prefix aggregates
    // — which is precisely what the oracle computes with one
    // cumulative window over the per-(user, batch) partials. This
    // pins the state-accumulation semantics (merge of out-of-order
    // batches into min/max/sum state) that the q57 batch twin cannot
    // see.
    QueryDef.sql("q214_stream_sessionize_update", sessionizeUpdateOracleSql) {
      (s, d) => {
        import s.implicits._
        val batches = daySlicedBatches[EventStreams.Event](Tables.events(s, d))
        runTranscript(s, "q214_stream_sessionize_update", batches, OutputMode.Update()) {
          (ds: Dataset[EventStreams.Event]) => EventStreams.sessionize(ds).toDF()
        }.select(col("user_id"), col("n_events"), col("first_ts"),
          col("last_ts"), cents(col("total_value")).as("value_cents"))
      }
    },

    // EVENT-TIME SESSIONIZATION PINNED TRANSCRIPT:
    // EventStreams.sessionizeEventTime (gap 10 min, watermark delay
    // 15 min, EventTimeTimeout, Append) over a literal 3-batch
    // fixture; the oracle is the hand-derived final emission set.
    // Batch 1: u7 opens a session (00:00, 00:08); u8's two events sit
    //   20 min apart IN ONE BATCH — the in-batch gap split closes
    //   (u8, 1 event, 00:00, 00:00, 5.0) immediately. Watermark after
    //   batch 1: 00:20 − 15 min = 00:05.
    // Batch 2: u7's 00:07 event is OUT OF ORDER (before the already
    //   -seen 00:08) but inside the watermark — it must join the
    //   still-open session (n=3, total 7.0, last stays 00:08); u7's
    //   00:03 event is BEYOND the 00:05 watermark — dropped by the
    //   late-data filter, leaving the session untouched; u9's
    //   00:45:30 event opens a session and drives the watermark to
    //   00:30:30.
    // Batch 3: u9 extends (00:46 — same session, stays open, never
    //   emits). With the watermark now past u7's 00:18 and u8's 00:30
    //   event-time timers, BOTH fire: (u7, 3, 00:00, 00:08, 7.0) and
    //   u8's second session (1 event, 00:20, 00:20, 6.0) emit.
    QueryDef.sql("q215_stream_sessionize_eventtime",
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        |       CAST(n_events AS BIGINT) AS n_events,
        |       first_ts, last_ts, CAST(total_value AS DOUBLE) AS total_value
        |FROM (VALUES
        |  (7, 3, TIMESTAMP '2024-01-01 00:00:00',
        |         TIMESTAMP '2024-01-01 00:08:00', 7.0),
        |  (8, 1, TIMESTAMP '2024-01-01 00:00:00',
        |         TIMESTAMP '2024-01-01 00:00:00', 5.0),
        |  (8, 1, TIMESTAMP '2024-01-01 00:20:00',
        |         TIMESTAMP '2024-01-01 00:20:00', 6.0)
        |) t(user_id, n_events, first_ts, last_ts, total_value)""".stripMargin) {
      (s, d) => {
        import s.implicits._
        import EventStreams.Event
        val b1 = Seq(
          Event(1, tsOf("2024-01-01T00:00:00Z"), 7, "click", 1.0),
          Event(2, tsOf("2024-01-01T00:08:00Z"), 7, "view", 2.0),
          Event(3, tsOf("2024-01-01T00:00:00Z"), 8, "click", 5.0),
          Event(4, tsOf("2024-01-01T00:20:00Z"), 8, "view", 6.0))
        val b2 = Seq(
          Event(5, tsOf("2024-01-01T00:07:00Z"), 7, "click", 4.0),
          Event(6, tsOf("2024-01-01T00:03:00Z"), 7, "view", 8.0),
          Event(7, tsOf("2024-01-01T00:45:30Z"), 9, "click", 0.5))
        val b3 = Seq(
          Event(8, tsOf("2024-01-01T00:46:00Z"), 9, "view", 0.25))
        runTranscript(s, "q215_stream_sessionize_eventtime", Seq(b1, b2, b3), OutputMode.Append()) {
          (ds: Dataset[Event]) => EventStreams.sessionizeEventTime(
            ds, gapMs = 10 * 60 * 1000L, watermarkDelay = "15 minutes").toDF()
        }.select(col("user_id"), col("n_events"), col("first_ts"),
          col("last_ts"), col("total_value"))
      }
    },

    // STREAM-STREAM INTERVAL JOIN PINNED TRANSCRIPT:
    // EventStreams.clickToPurchase (30-min attribution window, 1-hour
    // watermarks on BOTH derived sides, global watermark = their min)
    // over a literal 3-batch fixture; oracle = the hand-derived match
    // set. Batch 1: u1's 00:10 purchase matches u1's 00:00 click
    //   (in-batch); u2's 00:50 purchase is OUTSIDE its click's 30-min
    //   window — no row ever.
    // Batch 2: u1's 00:25 purchase matches the batch-1 click — click
    //   state was retained across triggers; u3's 03:00 click and u9's
    //   03:20 matchless purchase advance the click/purchase
    //   watermarks so the GLOBAL watermark after batch 2 is
    //   min(02:00, 02:20) = 02:00.
    // Batch 3: u3's 03:10 purchase matches the batch-2 click; u1's
    //   01:55 purchase is BEHIND the 02:00 global watermark — dropped
    //   by the input filter, no state touched, no row.
    QueryDef.sql("q216_stream_click_to_purchase",
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        |       CAST(click_id AS BIGINT) AS click_id,
        |       CAST(purchase_id AS BIGINT) AS purchase_id,
        |       click_ts, purchase_ts, CAST(value AS DOUBLE) AS value
        |FROM (VALUES
        |  (1, 101, 201, TIMESTAMP '2024-01-01 00:00:00',
        |                TIMESTAMP '2024-01-01 00:10:00', 10.0),
        |  (1, 101, 203, TIMESTAMP '2024-01-01 00:00:00',
        |                TIMESTAMP '2024-01-01 00:25:00', 30.0),
        |  (3, 103, 204, TIMESTAMP '2024-01-01 03:00:00',
        |                TIMESTAMP '2024-01-01 03:10:00', 40.0)
        |) t(user_id, click_id, purchase_id, click_ts, purchase_ts, value)""".stripMargin) {
      (s, d) => {
        import s.implicits._
        import EventStreams.Event
        val b1 = Seq(
          Event(101, tsOf("2024-01-01T00:00:00Z"), 1, "click", 0.0),
          Event(102, tsOf("2024-01-01T00:05:00Z"), 2, "click", 0.0),
          Event(201, tsOf("2024-01-01T00:10:00Z"), 1, "purchase", 10.0),
          Event(202, tsOf("2024-01-01T00:50:00Z"), 2, "purchase", 20.0))
        val b2 = Seq(
          Event(203, tsOf("2024-01-01T00:25:00Z"), 1, "purchase", 30.0),
          Event(103, tsOf("2024-01-01T03:00:00Z"), 3, "click", 0.0),
          Event(206, tsOf("2024-01-01T03:20:00Z"), 9, "purchase", 60.0))
        val b3 = Seq(
          Event(204, tsOf("2024-01-01T03:10:00Z"), 3, "purchase", 40.0),
          Event(205, tsOf("2024-01-01T01:55:00Z"), 1, "purchase", 50.0))
        runTranscript(s, "q216_stream_click_to_purchase", Seq(b1, b2, b3), OutputMode.Append()) {
          (ds: Dataset[Event]) => EventStreams.clickToPurchase(
            ds.toDF(), "30 minutes", "1 hour")
        }.select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"), col("value"))
      }
    },

    // STREAMING EXACT DEDUP PINNED TRANSCRIPT: EventStreams.dedupEvents
    // (dropDuplicatesWithinWatermark on event_id, 1-hour horizon) over
    // a literal 5-batch fixture; oracle = the emitted-first-arrivals
    // set. Batch 1: id 1 emits; its same-batch redelivery drops; id 2
    //   emits. Batch 2: id 1's cross-batch redelivery (within horizon)
    //   drops; id 3 emits and moves the watermark to 01:30. Batches
    //   3–4: ids 4, 5 emit and push the watermark to 04:00 then 05:30
    //   — far past id 1's expiry however the horizon is anchored, so
    //   its state is certainly evicted. Batch 5: id 1 REAPPEARS at
    //   06:00 (above the 05:30 watermark) — state gone, emits again:
    //   the within-watermark contract, unbounded dropDuplicates would
    //   have silently suppressed it; id 9's 03:30 row is BEHIND the
    //   watermark — dropped late, no emission, no state.
    QueryDef.sql("q217_stream_dedup_events",
      """SELECT CAST(event_id AS BIGINT) AS event_id, ts,
        |       CAST(user_id AS BIGINT) AS user_id, event_type,
        |       CAST(value AS DOUBLE) AS value
        |FROM (VALUES
        |  (1, TIMESTAMP '2024-01-01 00:00:00', 1, 'click', 1.0),
        |  (2, TIMESTAMP '2024-01-01 00:20:00', 2, 'view', 2.0),
        |  (3, TIMESTAMP '2024-01-01 02:30:00', 3, 'view', 3.0),
        |  (4, TIMESTAMP '2024-01-01 05:00:00', 4, 'click', 4.0),
        |  (5, TIMESTAMP '2024-01-01 06:30:00', 5, 'view', 5.0),
        |  (1, TIMESTAMP '2024-01-01 06:00:00', 1, 'click', 6.0)
        |) t(event_id, ts, user_id, event_type, value)""".stripMargin) {
      (s, d) => {
        import s.implicits._
        import EventStreams.Event
        val batches = Seq(
          Seq(Event(1, tsOf("2024-01-01T00:00:00Z"), 1, "click", 1.0),
            Event(1, tsOf("2024-01-01T00:10:00Z"), 1, "click", 1.5),
            Event(2, tsOf("2024-01-01T00:20:00Z"), 2, "view", 2.0)),
          Seq(Event(1, tsOf("2024-01-01T00:30:00Z"), 1, "click", 1.7),
            Event(3, tsOf("2024-01-01T02:30:00Z"), 3, "view", 3.0)),
          Seq(Event(4, tsOf("2024-01-01T05:00:00Z"), 4, "click", 4.0)),
          Seq(Event(5, tsOf("2024-01-01T06:30:00Z"), 5, "view", 5.0)),
          Seq(Event(1, tsOf("2024-01-01T06:00:00Z"), 1, "click", 6.0),
            Event(9, tsOf("2024-01-01T03:30:00Z"), 9, "view", 9.0)))
        runTranscript(s, "q217_stream_dedup_events", batches, OutputMode.Append()) {
          (ds: Dataset[Event]) => EventStreams.dedupEvents(ds.toDF(), "1 hour")
        }.select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      }
    },

    // STREAMING CURRENT-VIEW TRANSCRIPT: the ACTUAL
    // EventStreams.currentView flatMapGroupsWithState query (Update
    // mode, no watermark — dedup state must never expire) over the
    // day-sliced replay of the events table recast as versioned
    // element diffs (id = user, version = the unique event id,
    // tombstone flag from the type). Event ids rise with time while
    // the day slicing interleaves days, so batches 1–2 are full of
    // REGRESSED versions — the operator must emit only genuine
    // advances, which the oracle states in closed form: per
    // (id, batch) the argmax-by-version row, kept iff it beats the
    // running max of earlier batches.
    QueryDef.sql("q218_stream_current_view", currentViewOracleSql) {
      (s, d) => {
        import s.implicits._
        import EventStreams.ElementUpdate
        val upd = Tables.events(s, d).select(
          col("user_id").as("id"), col("event_id").as("version"),
          (col("event_type") =!= "purchase").as("visible"),
          col("event_type").as("payload"), col("ts"))
        val batches = daySlicedBatches[ElementUpdate](upd)
        runTranscript(s, "q218_stream_current_view", batches, OutputMode.Update()) {
          (ds: Dataset[ElementUpdate]) => EventStreams.currentView(ds).toDF()
        }.select(col("id"), col("version"), col("visible"), col("payload"))
      }
    },

    // STREAM-STATIC ENRICHMENT TRANSCRIPT: the q213 replay through
    // EventStreams.enrichedCounts — each micro-batch broadcast-joined
    // to a STATIC user dimension (user_id → segment, with every
    // user_id % 5 = 0 deliberately ABSENT so the join's row-dropping
    // is visible in the counts), then watermarked 1-hour windows per
    // segment in Append mode. The watermark is applied BEFORE the
    // join (the sentinel user is not in the dimension — its event
    // must still advance the watermark to flush the 2024 windows).
    // Oracle: q213's per-batch watermark algebra with the dimension
    // filter and segment key folded in.
    QueryDef.sql("q240_stream_enriched_counts",
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS us, user_id, value,
        |         CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS b
        |  FROM events),
        |bm AS (SELECT b, max(us) AS mx FROM ev GROUP BY b),
        |wm AS (
        |  SELECT e.b, (max(m.mx) // 1000 - 7200000) * 1000 AS wm_us
        |  FROM (SELECT DISTINCT b FROM ev) e
        |  LEFT JOIN bm m ON m.b < e.b GROUP BY e.b),
        |keep AS (
        |  SELECT e.us - e.us % 3600000000 AS wstart,
        |         CAST(e.user_id % 4 AS BIGINT) AS segment, e.value
        |  FROM ev e JOIN wm ON wm.b = e.b
        |  WHERE (wm.wm_us IS NULL OR e.us - e.us % 3600000000 + 3600000000 > wm.wm_us)
        |    AND e.user_id % 5 <> 0)
        |SELECT make_timestamp(wstart) AS window_start, segment,
        |       count(*) AS n,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM keep GROUP BY 1, 2
        |HAVING min(wstart) + 3600000000 <= (1735689630000000 // 1000 - 7200000) * 1000""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val batches = daySlicedBatches[EventStreams.Event](Tables.events(s, d))
        val sentinel = Seq(EventStreams.Event(
          -1L, tsOf("2025-01-01T00:00:30Z"), -1L, "flush", 0.0))
        val dim = Tables.events(s, d).select(col("user_id")).distinct()
          .filter(pmod(col("user_id"), lit(5)) =!= 0)
          .withColumn("segment", pmod(col("user_id"), lit(4)).cast("long"))
        runTranscript(s, "q240_stream_enriched_counts",
          batches :+ sentinel, OutputMode.Append()) {
          (ds: Dataset[EventStreams.Event]) =>
            EventStreams.enrichedCounts(ds.toDF(), dim, "user_id", "segment")
        }.select(col("window_start"), col("segment"), col("n"),
          cents(col("value_sum")).as("value_cents"))
      }
    },

    // STREAMING POLITENESS GATE TRANSCRIPT (the politeness family's
    // stream leg — r11 verdict gap #3): the ACTUAL
    // EventStreams.politenessGate flatMapGroupsWithState query
    // (Append, NoTimeout — a state shape none of q213–q218 exercises:
    // a monotone per-key timetable against a broadcast delay
    // dimension, no watermark) over the day-sliced 3-batch replay.
    // Fetch requests derive from events (req_id = event_id, host from
    // the user residue); even-k hosts declare a crawl delay, odd-k
    // hosts fall to the 1 s default. Because state carries each host's
    // (nextFree, seq) across triggers, the per-host spacing NEVER
    // resets at batch boundaries — which is exactly what the oracle's
    // closed form asserts: seq = rank over (batch, req_id) within
    // host, fetch_at = t0 + seq · delay(host). A state reset, a lost
    // grant, or cross-batch reordering all break the hash.
    QueryDef.sql("q257_stream_politeness_gate",
      """WITH ev AS (
        |  SELECT event_id AS req_id,
        |    CAST((epoch_us(ts) // 86400000000) % 3 AS BIGINT) AS b,
        |    (user_id % 19) AS k
        |  FROM events),
        |r AS (
        |  SELECT req_id, b, k,
        |    'http://h' || k || '.example.org/e/' || req_id AS url,
        |    'h' || k || '.example.org' AS host,
        |    CASE WHEN k % 2 = 0 THEN 500 * (k % 5) + 500 ELSE 1000 END AS delay
        |  FROM ev),
        |sq AS (
        |  SELECT req_id, url, host, delay,
        |    row_number() OVER (PARTITION BY host ORDER BY b, req_id) - 1 AS seq
        |  FROM r)
        |SELECT req_id, url, host, CAST(seq AS BIGINT) AS seq,
        |  CAST(1704067200000 + seq * delay AS BIGINT) AS fetch_at_ms
        |FROM sq""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val reqs = Tables.events(s, d).select(
          col("event_id").as("req_id"), col("ts"),
          concat(lit("http://h"),
            pmod(col("user_id"), lit(19)).cast("string"),
            lit(".example.org/e/"), col("event_id").cast("string"))
            .as("url"))
        val batches = daySlicedBatches[EventStreams.FetchRequest](reqs)
        val delays = (0 until 19).filter(_ % 2 == 0)
          .map(k => (s"h$k.example.org", 500L * (k % 5) + 500L))
          .toDF("host", "crawl_delay_ms")
        runTranscript(s, "q257_stream_politeness_gate", batches,
          OutputMode.Append()) {
          (ds: Dataset[EventStreams.FetchRequest]) =>
            EventStreams.politenessGate(ds, delays,
              t0Ms = 1704067200000L, defaultDelayMs = 1000L).toDF()
        }
      }
    })
}
