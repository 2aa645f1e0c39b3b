package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  test("watermarked windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.windowedCounts(input.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:10:00Z"), 1, "click", 10.0),
        EventStreams.Event(2, ts("2024-01-01T00:40:00Z"), 2, "click", 5.0),
        EventStreams.Event(3, ts("2024-01-01T01:05:00Z"), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, event_type, n, value_sum FROM win_counts ORDER BY 1, 2")
        .collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[String]("event_type") === "click")
      assert(rows(0).getAs[Long]("n") === 2L)
      assert(rows(0).getAs[Double]("value_sum") === 15.0)
      assert(rows(1).getAs[String]("event_type") === "view")
    } finally q.stop()
  }

  test("foreachBatch drift monitor scores each micro-batch against the reference mix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference mix: click×2, view×2 (50/50)
    val reference = Seq("click", "click", "view", "view").toDF("event_type")
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[String, Long])]
    val input = MemoryStream[EventStreams.Event]
    val q = input.toDF().writeStream
      .foreachBatch(EventStreams.driftForeachBatch("event_type")(
        () => reference,
        (drift, id) => seen.synchronized {
          seen += id -> drift.collect()
            .map(r => r.getString(0) -> r.getLong(3)).toMap
        }))
      .start()
    try {
      // batch: click×3, error×1 — vs 50/50 click/view reference:
      // |p|: click |0.5−0.75|=0.25, view 0.5, error 0.25 → contribs
      // 125000/250000/125000 ppm
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 1, "click", 1.0),
        EventStreams.Event(2, ts("2024-01-01T00:01:00Z"), 1, "click", 1.0),
        EventStreams.Event(3, ts("2024-01-01T00:02:00Z"), 2, "click", 1.0),
        EventStreams.Event(4, ts("2024-01-01T00:03:00Z"), 2, "error", 1.0))
      q.processAllAvailable()
      val drift = seen.synchronized(seen.last._2)
      assert(drift === Map("click" -> 125000L, "view" -> 250000L,
        "error" -> 125000L))
    } finally q.stop()
  }

  test("stateful sessionization accumulates per-user state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 7, "click", 2.0),
        EventStreams.Event(2, ts("2024-01-01T00:05:00Z"), 7, "view", 3.0),
        EventStreams.Event(3, ts("2024-01-01T00:01:00Z"), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sessions ORDER BY user_id").collect()
      val u7 = rows.find(_.getAs[Long]("user_id") == 7L).get
      assert(u7.getAs[Long]("n_events") === 2L)
      assert(u7.getAs[Double]("total_value") === 5.0)
      assert(u7.getAs[Timestamp]("first_ts") === ts("2024-01-01T00:00:00Z"))
      assert(u7.getAs[Timestamp]("last_ts") === ts("2024-01-01T00:05:00Z"))
      assert(rows.exists(_.getAs[Long]("user_id") == 9L))
    } finally q.stop()
  }

  test("event-time sessionization closes sessions on event time, not wall clock") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionizeEventTime(input.toDS(),
        gapMs = 10 * 60 * 1000L, watermarkDelay = "15 minutes")
      .writeStream.format("memory").queryName("et_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 7: an open session; user 8: two events >gap apart in ONE
      // batch — the first must close immediately as its own session.
      // Watermark after this batch: 00:20 − 15 min = 00:05.
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 7, "click", 1.0),
        EventStreams.Event(2, ts("2024-01-01T00:08:00Z"), 7, "view", 2.0),
        EventStreams.Event(3, ts("2024-01-01T00:00:00Z"), 8, "click", 5.0),
        EventStreams.Event(4, ts("2024-01-01T00:20:00Z"), 8, "view", 6.0))
      q.processAllAvailable()
      // out-of-order late event (00:07 — after the 00:05 watermark,
      // before the already-seen 00:08) joins user 7's still-open
      // session; user 9's 00:45 event drives the watermark to 00:30,
      // past user 7's 00:18 session deadline
      input.addData(
        EventStreams.Event(5, ts("2024-01-01T00:07:00Z"), 7, "click", 4.0),
        EventStreams.Event(6, ts("2024-01-01T00:45:00Z"), 9, "click", 0.0))
      q.processAllAvailable()
      // any further trigger fires user 7's expired event-time timer
      input.addData(EventStreams.Event(7, ts("2024-01-01T00:46:00Z"), 9, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, first_ts, last_ts, total_value FROM et_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getDouble(4))).toSet
      val u7 = rows.find(_._1 == 7L).get
      // all three events — including the late out-of-order one — in one session
      assert(u7 === ((7L, 3L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:08:00Z"), 7.0)))
      // user 8's first event closed as a 1-event session by the in-batch gap
      assert(rows.contains((8L, 1L, ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:00:00Z"), 5.0)))
      // user 9's session is still open: nothing emitted
      assert(!rows.exists(_._1 == 9L))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.clickToPurchase(input.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 5, "click", 0.0),
        EventStreams.Event(2, ts("2024-01-01T00:10:00Z"), 5, "purchase", 99.0),
        EventStreams.Event(3, ts("2024-01-01T01:10:00Z"), 5, "purchase", 1.0), // outside window
        EventStreams.Event(4, ts("2024-01-01T00:05:00Z"), 6, "purchase", 7.0)) // no click
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, click_id, purchase_id, value FROM attrib").collect()
      assert(rows.length === 1)
      assert(rows(0).getLong(0) === 5L && rows(0).getLong(1) === 1L &&
        rows(0).getLong(2) === 2L && rows(0).getDouble(3) === 99.0)
    } finally q.stop()
  }

  test("streaming current view keeps max version across out-of-order diffs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.ElementUpdate]
    val q = EventStreams.currentView(input.toDS())
      .writeStream.format("memory").queryName("current_view")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventStreams.ElementUpdate(1, 3, visible = true, "v3"),
        EventStreams.ElementUpdate(1, 1, visible = true, "v1"), // out of order
        EventStreams.ElementUpdate(2, 1, visible = true, "a1"))
      q.processAllAvailable()
      input.addData(
        EventStreams.ElementUpdate(1, 2, visible = true, "v2"), // late, must NOT re-emit
        EventStreams.ElementUpdate(2, 2, visible = false, "a2")) // deletion tombstone
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT id, version, visible, payload FROM current_view")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
      // exact emission multiset: one advance per change, no re-emission
      // for the late v2 diff, tombstone emitted for the deletion
      assert(rows.sorted.toSeq === Seq(
        (1L, 3L, true, "v3"), (2L, 1L, true, "a1"), (2L, 2L, false, "a2")))
    } finally q.stop()
  }

  test("streaming dedup drops redelivered events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.dedupEvents(input.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 1, "click", 1.0),
        EventStreams.Event(2, ts("2024-01-01T00:01:00Z"), 1, "view", 2.0),
        EventStreams.Event(1, ts("2024-01-01T00:00:00Z"), 1, "click", 1.0)) // redelivery
      q.processAllAvailable()
      input.addData(
        EventStreams.Event(2, ts("2024-01-01T00:01:30Z"), 1, "view", 2.0), // redelivery, later ts
        EventStreams.Event(3, ts("2024-01-01T00:02:00Z"), 2, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_events")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("cdcForeachBatch maintains an external snapshot across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (id, v, payload, op) CDC rows; snapshot held in a driver var for
    // the spec — production supplies atomic read/write of a real store
    var snapshot = Seq.empty[(Long, Long, String)].toDF("id", "v", "payload")
    val input = MemoryStream[(Long, Long, String, String)]
    val sink = EventStreams.cdcForeachBatch(Seq("id"), Seq("v"))(
      () => snapshot,
      merged => snapshot = merged.collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toDF("id", "v", "payload"))
    val q = input.toDF().toDF("id", "v", "payload", "op")
      .writeStream.foreachBatch(sink).outputMode(OutputMode.Update).start()
    try {
      // batch 1: two inserts, with an in-batch stale duplicate for id 1
      // that last-writer-wins compaction must drop
      input.addData((1L, 2L, "a2", "U"), (1L, 1L, "a1", "U"), (2L, 1L, "b", "U"))
      q.processAllAvailable()
      assert(snapshot.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
        .toSeq === Seq(1L -> "a2", 2L -> "b"))
      // batch 2: update id 1, delete id 2, insert id 3
      input.addData((1L, 3L, "a3", "U"), (2L, 2L, "b", "D"), (3L, 1L, "c", "U"))
      q.processAllAvailable()
      assert(snapshot.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
        .toSeq === Seq(1L -> "a3", 3L -> "c"))
    } finally q.stop()
  }

  test("file-source readStream over events parquet") {
    val dir = java.nio.file.Files.createTempDirectory("evt-stream").toString
    // stage a copy of the events table as the stream source directory
    graft.Tables.events(spark, "/root/testdata/sf0.001").limit(200)
      .write.mode("overwrite").parquet(dir)
    val q = EventStreams.runToMemory(spark,
      EventStreams.windowedCounts(EventStreams.readEventStream(spark, dir)), "file_counts")
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT sum(n) FROM file_counts").head.getLong(0) === 200L)
    } finally q.stop()
  }

  test("incrementalDedupForeachBatch: exact + near dedup against a growing store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // driver-held store for the spec; production supplies parquet dirs
    var store: Option[(Seq[(Long, String)], org.apache.spark.sql.DataFrame)] = None
    val sink = EventStreams.incrementalDedupForeachBatch("doc_id", "text",
      minJaccardPpm = 800000L)(
      () => store.map { case (docs, sigs) => (docs.toDF("doc_id", "text"), sigs) },
      (docs, sigs) => {
        val newDocs = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val prevDocs = store.map(_._1).getOrElse(Seq.empty)
        val sigDf = sigs.cache()
        sigDf.count()
        val merged = store match {
          case Some((_, prevSigs)) => prevSigs.unionByName(sigDf)
          case None => sigDf
        }
        store = Some((prevDocs ++ newDocs, merged))
      })
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append).foreachBatch(sink).start()
    try {
      // batch 1: 1 and 2 are exact dups of each other; 3 is unique
      input.addData((1L, "aaa bbb"), (2L, "aaa bbb"),
        (3L, "one two three four five six"))
      q.processAllAvailable()
      assert(store.get._1.map(_._1).sorted === Seq(1L, 3L))
      // batch 2: 10 = exact dup of stored 1; 11 = near-dup of stored 3
      // (shares 4 of 5 shingles → jaccard 800000); 12 = fresh
      input.addData((10L, "aaa bbb"),
        (11L, "one two three four five six seven"),
        (12L, "completely different fresh content here"))
      q.processAllAvailable()
      assert(store.get._1.map(_._1).sorted === Seq(1L, 3L, 12L))
    } finally q.stop()
  }
}
