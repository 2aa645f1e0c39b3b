package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TimeSeriesSpec extends AnyFunSuite with SparkSpec {

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def events(rows: (Long, Long, Timestamp, Long)*) = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "ts", "v")
  }

  test("timeWeightedAvg: hand-computed weights, last event excluded, zero-duration key dropped") {
    // user 1: v=10 held 2h, v=40 held 1h, final v=99 has no horizon
    //   → twap = (10·2 + 40·1)/3 = 20
    // user 2: both events at the same instant → zero duration → dropped
    val df = events(
      (1L, 1L, ts(0), 10L), (2L, 1L, ts(2), 40L), (3L, 1L, ts(3), 99L),
      (4L, 2L, ts(5), 7L), (5L, 2L, ts(5), 8L))
    val out = TimeSeries.timeWeightedAvg(df, "user_id",
        unix_micros(col("ts")), col("v"), "event_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> ((2L, 20L))))

    // equal durations degenerate to the plain mean (floor)
    val even = events((1L, 9L, ts(0), 1L), (2L, 9L, ts(1), 2L), (3L, 9L, ts(2), 99L))
    val m = TimeSeries.timeWeightedAvg(even, "user_id",
        unix_micros(col("ts")), col("v"), "event_id")
      .collect().head
    assert((m.getLong(1), m.getLong(2)) === ((2L, 1L))) // (1+2)/2 floored
  }

  test("madOutliers: exact medians, k·MAD threshold, zero-MAD degeneracy") {
    // user 1: values 10,12,11,13,100 → med=12, devs {2,0,1,1,88} → MAD=1
    //   → only 100 flagged (88 > 3)
    // user 2: values 5,5,5,9 → med=5, devs {0,0,0,4} → MAD=0
    //   → 9 flagged (4 > 0), the documented zero-MAD behavior
    val df = events(
      (1L, 1L, ts(0), 10L), (2L, 1L, ts(1), 12L), (3L, 1L, ts(2), 11L),
      (4L, 1L, ts(3), 13L), (5L, 1L, ts(4), 100L),
      (6L, 2L, ts(0), 5L), (7L, 2L, ts(1), 5L), (8L, 2L, ts(2), 5L),
      (9L, 2L, ts(3), 9L))
    val out = TimeSeries.madOutliers(df, "user_id", col("v"), "event_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      5L -> ((1L, 100L, 12L, 1L)),
      9L -> ((2L, 9L, 5L, 0L))))
  }

  test("transitionMatrix: per-key sequences, exact milli rows, last event emits nothing") {
    import spark.implicits._
    // user 1: a→b→a→b ; user 2: a→a→c
    val df = Seq(
      (1L, 1L, ts(0), "a"), (2L, 1L, ts(1), "b"), (3L, 1L, ts(2), "a"),
      (4L, 1L, ts(3), "b"), (5L, 2L, ts(0), "a"), (6L, 2L, ts(1), "a"),
      (7L, 2L, ts(2), "c"))
      .toDF("event_id", "user_id", "ts", "state")
    val out = TimeSeries.transitionMatrix(df, "user_id",
        unix_micros(col("ts")), col("state"), "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // from a: a→b ×2, a→a ×1, a→c ×1 (4 total); from b: b→a ×1
    assert(out === Map(
      ("a", "b") -> ((2L, 500L)), ("a", "a") -> ((1L, 250L)),
      ("a", "c") -> ((1L, 250L)), ("b", "a") -> ((1L, 1000L))))
  }

  test("groupTrend: hand-computed slopes, sign handling, zero-variance keys dropped") {
    // user 1: y = 10, 20, 30 at hours 0,1,2 → slope exactly +10 c/h = 10000 milli
    // user 2: y = 30, 20, 10 at hours 0,1,2 → −10000 milli (sign path)
    // user 3: all obs in one hour → zero x-variance → dropped
    val df = events(
      (1L, 1L, ts(0), 10L), (2L, 1L, ts(1), 20L), (3L, 1L, ts(2), 30L),
      (4L, 2L, ts(0), 30L), (5L, 2L, ts(1), 20L), (6L, 2L, ts(2), 10L),
      (7L, 3L, ts(5, 10), 1L), (8L, 3L, ts(5, 20), 99L))
    val out = TimeSeries.groupTrend(df, "user_id",
        unix_micros(col("ts")), col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> ((3L, 10000L)), 2L -> ((3L, -10000L))))
  }

  test("equiDepthBins: ntile remainder rule, contiguous ranges, per-group independence") {
    import spark.implicits._
    // group a: 10 rows into 4 bins → sizes 3,3,2,2 (larger first);
    // group b: 2 rows into 4 bins → ntile assigns bins 1 and 2
    val df = ((1 to 10).map(i => ("a", i.toLong, i.toLong)) ++
      Seq(("b", 5L, 100L), ("b", 6L, 101L))).toDF("g", "id", "v")
    val out = Profiling.equiDepthBins(df, "g", col("v"), "id", numBins = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", 1L)) === ((3L, 1L, 3L)))
    assert(out(("a", 2L)) === ((3L, 4L, 6L)))
    assert(out(("a", 3L)) === ((2L, 7L, 8L)))
    assert(out(("a", 4L)) === ((2L, 9L, 10L)))
    assert(out(("b", 1L)) === ((1L, 100L, 100L)))
    assert(out(("b", 2L)) === ((1L, 101L, 101L)))
    assert(out.size === 6)
  }

  private def run(df: org.apache.spark.sql.DataFrame, maxFill: Int = 100000) =
    TimeSeries
      .resampleLocf(df, "user_id", "ts", col("v"), "v", "event_id",
        maxFillPerObs = maxFill)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("bucket_ts"),
        r.getAs[Long]("v"), r.getAs[Boolean]("observed")))
      .sortBy(t => (t._1, t._2.getTime))

  test("gaps fill forward with the last observed value, per key") {
    // user 1: hours 0 and 3 → 2 observed + 2 carried; user 2: one obs
    val out = run(events(
      (1L, 1L, ts(0, 10), 10L), (2L, 1L, ts(3, 5), 20L),
      (3L, 2L, ts(1, 0), 7L)))
    assert(out === Seq(
      (1L, ts(0), 10L, true), (1L, ts(1), 10L, false),
      (1L, ts(2), 10L, false), (1L, ts(3), 20L, true),
      (2L, ts(1), 7L, true)))
  }

  test("within a bucket the max-order event wins deterministically") {
    val out = run(events(
      (5L, 1L, ts(0, 1), 111L), (9L, 1L, ts(0, 59), 222L),
      (7L, 1L, ts(0, 30), 333L)))
    assert(out === Seq((1L, ts(0), 222L, true)))
  }

  test("maxFillPerObs truncates a silent key's run and resumes at the next obs") {
    val out = run(events(
      (1L, 1L, ts(0), 1L), (2L, 1L, ts(10), 2L)), maxFill = 3)
    assert(out === Seq(
      (1L, ts(0), 1L, true), (1L, ts(1), 1L, false),
      (1L, ts(2), 1L, false), (1L, ts(3), 1L, false),
      (1L, ts(10), 2L, true)))
  }

  test("cross-check: lead+explode formulation equals the spine-join+LOCF plan") {
    // A deterministic irregular series (37 events, 3 users, varying
    // gaps) pushed through BOTH derivations: the operator's
    // spine-free lead()+explode, and the classic per-key calendar
    // spine left-joined to observations with last(ignoreNulls) fill.
    val rows = (1 to 37).map { i =>
      (i.toLong, (i % 3 + 1).toLong, ts((i * 7) % 24, (i * 13) % 60),
        (i * 31 % 97).toLong)
    }
    val df = events(rows: _*)
    val fast = run(df)

    val obs = df
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket_ts"))
      .agg(max_by(col("v"), col("event_id")).as("v"))
    val spine = obs.groupBy("user_id")
      .agg(min("bucket_ts").as("h0"), max("bucket_ts").as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, INTERVAL '1' hour)")).as("bucket_ts"))
    val w = Window.partitionBy("user_id").orderBy("bucket_ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val slow = spine.join(obs, Seq("user_id", "bucket_ts"), "left")
      .select(col("user_id"), col("bucket_ts"),
        last("v", ignoreNulls = true).over(w).as("v"),
        col("v").isNotNull.as("observed"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("bucket_ts"),
        r.getAs[Long]("v"), r.getAs[Boolean]("observed")))
      .sortBy(t => (t._1, t._2.getTime))
    assert(fast === slow)
  }

  test("trendingRank: rank per bucket, movement vs previous bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // day 1: a×3, b×1 → ranks a=1, b=2; day 2: a×1, b×2 → b=1, a=2
    val df = (Seq.fill(3)((1L, "a")) ++ Seq((1L, "b"))
      ++ Seq((2L, "a")) ++ Seq.fill(2)((2L, "b"))).toDF("d", "k")
    val got = TimeSeries.trendingRank(df, col("d"), col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long])))).toMap
    assert(got((1L, "a")) === ((1L, None, None)))
    assert(got((1L, "b")) === ((2L, None, None)))
    assert(got((2L, "a")) === ((2L, Some(1L), Some(-1L)))) // fell
    assert(got((2L, "b")) === ((1L, Some(2L), Some(1L))))  // rose
  }

  test("resampleLinear: integer line fill, floor on negative slopes, no extrapolation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    // key a: 00:00 → 0 cents, 03:00 → 10 cents (rising: 0,3,6,10)
    // key b: 00:00 → 10 cents, 03:00 → 0 cents (falling: 10,6,3,0 —
    //   floor: 10+⌊-10/3⌋ = 10-4 = 6, 10+⌊-20/3⌋ = 10-7 = 3)
    val df = Seq(
      (1L, "a", ts(0), 0.0), (2L, "a", ts(3), 0.10),
      (3L, "b", ts(0), 0.10), (4L, "b", ts(3), 0.0))
      .toDF("event_id", "k", "ts", "v")
    val got = TimeSeries.resampleLinear(df, "k", "ts",
        round(col("v") * 100), "cents", "event_id")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getHours) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(("a", 0)) === ((0L, true)))
    assert(got(("a", 1)) === ((3L, false)))
    assert(got(("a", 2)) === ((6L, false)))
    assert(got(("a", 3)) === ((10L, true)))
    assert(got(("b", 1)) === ((6L, false)), s"negative slope must floor: $got")
    assert(got(("b", 2)) === ((3L, false)))
    // no extrapolation past the last observation
    assert(!got.contains(("a", 4)))
    assert(got.size === 8)
  }

  test("intervalCoverage: overlap merge, touching merge, gaps split, empty dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // key a: [0,10) ∪ [5,20) ∪ [20,25) merge to [0,25); [40,50) is an
    // island; [60,60) is empty and dropped → 4 intervals, 2 islands,
    // covered 25 + 10 = 35
    // key b: nested [0,100) ⊇ [10,20) → 2 intervals, 1 island, 100
    val df = Seq(
      ("a", 0L, 10L), ("a", 5L, 20L), ("a", 20L, 25L), ("a", 40L, 50L),
      ("a", 60L, 60L),
      ("b", 0L, 100L), ("b", 10L, 20L)).toDF("k", "s", "e")
    val got = TimeSeries.intervalCoverage(df, "k", col("s"), col("e"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map("a" -> ((4L, 2L, 35L)), "b" -> ((2L, 1L, 100L))))
  }

  test("pathTrigrams: 3-step motifs in event order, short paths excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // user 1: v → c → p → c  (trigrams v-c-p, c-p-c)
    // user 2: v → c → p      (trigram v-c-p)
    // user 3: v → c          (too short, no trigram)
    val df = Seq(
      (1L, 1L, 1L, "v"), (2L, 1L, 2L, "c"), (3L, 1L, 3L, "p"), (4L, 1L, 4L, "c"),
      (5L, 2L, 1L, "v"), (6L, 2L, 2L, "c"), (7L, 2L, 3L, "p"),
      (8L, 3L, 1L, "v"), (9L, 3L, 2L, "c")).toDF("event_id", "user_id", "t", "s")
    val got = TimeSeries.pathTrigrams(df, "user_id", col("t"), col("s"),
        "event_id", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(got === Map(("v", "c", "p") -> 2L, ("c", "p", "c") -> 1L))
  }
}
