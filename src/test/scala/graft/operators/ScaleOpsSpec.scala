package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics specs: skew-resistant collect equivalence and
  * bucketed co-located joins (shuffle elimination).
  */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {

  override protected lazy val spark: SparkSession = SparkSpec.builder
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("wh").toString)
    .getOrCreate()

  test("salted ordered collect equals plain ordered collect") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val plain = Relational.collectOrdered(li, Seq("l_orderkey"),
        Seq("l_linenumber", "l_partkey"), Seq("l_suppkey"), "items")
      .orderBy("l_orderkey").collect()
    val salted = Relational.collectOrderedSalted(li, Seq("l_orderkey"),
        "l_linenumber", Seq("l_partkey", "l_suppkey"), "items", salts = 7)
      .orderBy("l_orderkey").collect()
    assert(plain.length === salted.length)
    // same groups; same multiset of (linenumber, partkey, suppkey) per
    // group sorted identically (struct field order matches)
    plain.zip(salted).foreach { case (p, s) =>
      assert(p.getLong(0) === s.getLong(0))
      val pa = p.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
        .map(r => (r.getInt(0), r.getLong(1)))
      val sa = s.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("items")
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).map(t => (t._1, t._2))
      assert(pa === sa)
    }
  }

  test("latestVersionAgg (max_by) equals the window form of latest-per-key") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val win = Relational.latestVersion(ev, Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_id").orderBy("user_id").collect()
    val agg = Relational.latestVersionAgg(ev, Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_id").orderBy("user_id").collect()
    assert(win.length === agg.length)
    win.zip(agg).foreach { case (a, b) => assert(a === b) }
  }

  test("asof join picks the latest at-or-before right row per key") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq((10L, 1L, ts(0)), (11L, 1L, ts(5)), (12L, 1L, ts(20)),
        (13L, 2L, ts(6)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(5), "a"), (1L, ts(15), "b"), (2L, ts(7), "c"))
      .toDF("user_id", "ts", "tag")
    val out = Relational.asofJoin(left, right, "user_id", "ts", Seq("tag"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(out(10L) === None)       // nothing at-or-before t0
    assert(out(11L) === Some("a"))  // same-instant right row IS visible
    assert(out(12L) === Some("b"))  // latest of the two
    assert(out(13L) === None)       // other user's rows invisible
  }

  test("asof join payload is atomic: nulls and multi-column values come from ONE right row") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq((10L, 1L, ts(20))).toDF("event_id", "user_id", "ts")
    // older right row has values; the LATEST right row has a null tag —
    // native ASOF semantics return the latest row's null, not "a"
    val right = Seq(
        (1L, ts(5), Option("a"), Option(100L)),
        (1L, ts(15), None: Option[String], Option(200L)))
      .toDF("user_id", "ts", "tag", "score")
    val r = Relational.asofJoin(left, right, "user_id", "ts", Seq("tag", "score"))
      .select("asof_tag", "asof_score").head()
    assert(r.isNullAt(0), "null field of the matched row must not be skipped")
    assert(r.getLong(1) === 200L, "both payload columns must come from the same right row")
  }

  test("asof join rejects left columns that shadow the asof_ output") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0)
    val left = Seq((1L, ts, "x")).toDF("user_id", "ts", "asof_tag")
    val right = Seq((1L, ts, "a")).toDF("user_id", "ts", "tag")
    val e = intercept[IllegalArgumentException] {
      Relational.asofJoin(left, right, "user_id", "ts", Seq("tag"))
    }
    assert(e.getMessage.contains("asof_tag"))
  }

  test("range join matches points to containing intervals, including bucket-straddlers") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    val pts = Seq((1L, ts(30)), (2L, ts(90)), (3L, ts(200)), (4L, ts(100)))
      .toDF("pid", "ts")
    // [20,120) straddles two 60s buckets; [100,100) is empty; [90,101) overlaps
    val ivs = Seq(("A", ts(20), ts(120)), ("B", ts(100), ts(100)), ("C", ts(90), ts(101)))
      .toDF("name", "start_ts", "end_ts")
    val out = Relational.rangeJoin(pts, "ts", ivs, "start_ts", "end_ts",
        bucketMicros = 60L * 1000000L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(out === Set((1L, "A"), (2L, "A"), (2L, "C"), (4L, "A"), (4L, "C")))
  }

  test("interval overlap join: half-open semantics, multi-bucket dedup, empty intervals dropped") {
    import spark.implicits._
    val M = 1000000L // seconds -> us
    // a1 [0,100s) spans 2 60s-buckets; a2 [200,210s); a3 empty
    val a = Seq((1L, 0L, 100L * M), (2L, 200L * M, 210L * M), (3L, 50L * M, 50L * M))
      .toDF("aid", "as_us", "ae_us")
    // b1 [90,150s) overlaps a1 in bucket 1 AND 2 (dedup to one row);
    // b2 [100,110s) touches a1's end exactly -> NO overlap (half-open);
    // b3 [205,300s) overlaps a2 by 5s
    val b = Seq((10L, 90L * M, 150L * M), (20L, 100L * M, 110L * M),
        (30L, 205L * M, 300L * M))
      .toDF("bid", "bs_us", "be_us")
    val out = Relational.intervalOverlapJoin(
        a, "aid", "as_us", "ae_us", b, "bid", "bs_us", "be_us",
        bucketMicros = 60L * M)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 10L) -> 10L * M, (2L, 30L) -> 5L * M))

    // sentinel interval fails loudly instead of exploding
    val sentinel = Seq((9L, 0L, 10000L * 3600L * M)).toDF("bid", "bs_us", "be_us")
    val e = intercept[Exception] {
      Relational.intervalOverlapJoin(a, "aid", "as_us", "ae_us",
        sentinel, "bid", "bs_us", "be_us", bucketMicros = 60L * M).collect()
    }
    assert(e.getMessage.contains("intervalOverlapJoin") ||
      e.getCause != null && e.getCause.getMessage.contains("intervalOverlapJoin"))
  }

  test("interval overlap join equals driver-side brute force over randomized corpora") {
    import spark.implicits._
    val M = 1000000L
    for (round <- 0 until 4) {
      val rnd = new scala.util.Random(1000 + round)
      // lengths from sub-bucket to multi-bucket; starts over ~3h
      def mk(n: Int, idBase: Long) = (0 until n).map { i =>
        val s = rnd.nextInt(3 * 3600).toLong * M
        val len = (1L + rnd.nextInt(7200)) * M
        (idBase + i, s, s + len)
      }
      val as = mk(80, 1000L)
      val bs = mk(80, 2000L)
      val expected = (for {
        (ai, s1, e1) <- as; (bi, s2, e2) <- bs
        if s1 < e2 && s2 < e1
      } yield (ai, bi) -> (math.min(e1, e2) - math.max(s1, s2))).toMap
      val got = Relational.intervalOverlapJoin(
          as.toDF("aid", "as_us", "ae_us"), "aid", "as_us", "ae_us",
          bs.toDF("bid", "bs_us", "be_us"), "bid", "bs_us", "be_us",
          bucketMicros = 1800L * M)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expected, s"round $round: ${got.size} vs ${expected.size}")
    }
  }

  test("bucketed tables join without a shuffle") {
    val d = "/root/testdata/sf0.001"
    // writeBucketed itself clears catalog-forgotten warehouse leftovers
    // from earlier JVMs — that behavior is under test here too
    Layout.writeBucketed(graft.Tables.orders(spark, d), "orders_b", 4,
      Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
    Layout.writeBucketed(graft.Tables.lineitem(spark, d), "lineitem_b", 4,
      Seq("l_orderkey"), sortCols = Seq("l_orderkey"))
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle exchange feeding the join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected no join-side shuffles, plan:\n$plan")
    assert(joined.agg(sum("count")).head.getLong(0) === 6000L)
    // a bucket-key aggregate skips its shuffle the same way
    val g = spark.table("lineitem_b").groupBy("l_orderkey").count()
    assert(!g.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket-key aggregate must not shuffle")
    // negative control: joining on a NON-bucket column still shuffles —
    // the assertions above are about the layout, not small-plan luck
    val off = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_partkey") === col("o_custkey"))
    assert(off.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("directory-partitioned write prunes non-matching partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("part-prune").toString + "/t"
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .write.partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // not PushedFilters (row-group stats) and not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"expected event_type in PartitionFilters:\n$plan")
    val total = spark.read.parquet(dir).count()
    val clicks = one.count()
    assert(clicks > 0 && clicks < total)
    // pruned scan reads strictly fewer files than the full scan —
    // collect() on the SAME QueryExecution so its scan metrics populate
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collectLeaves().flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    assert(filesRead(one) < filesRead(spark.read.parquet(dir)))
  }

  test("AQE splits a skewed join partition (the docstrings' skew posture, demonstrated)") {
    // The driver provides no sf1 skew dataset, so the skew claims are
    // exercised here at spec scale: thresholds scaled down so the same
    // OptimizeSkewedJoin rule that fires on a 100 TB hot key fires on a
    // synthetic one (one key carrying ~90% of rows)
    import spark.implicits._
    val withConfs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = withConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    withConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // no explicit repartition: skew splitting only rewrites the
      // join's OWN ensure-requirements shuffles (a user-requested
      // partitioning must be preserved, so AQE leaves it alone)
      val hot = (1 to 20000).map(i => (1L, s"payload-$i")) ++
        (1 to 2000).map(i => (1L + i % 50, s"cold-$i"))
      val left = hot.toDF("k", "v")
      val right = (1L to 51L).map(k => (k, s"dim-$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      // collect THIS DataFrame so its own AQE execution finalizes
      assert(joined.collect().length === 22000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split join in the adaptive plan:\n$finalPlan")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the big side of a selective join") {
    // Row-level runtime filtering (Spark's bloom-filter join pruning):
    // a selective dimension filter injects a bloom_filter_agg subquery
    // that drops non-matching fact rows BEFORE the join shuffle — at
    // 100 TB that is the difference between shuffling the whole fact
    // table and shuffling the ~matching fraction. Size thresholds
    // scaled to spec data.
    val withConfs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = withConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    withConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = "/root/testdata/sf0.001"
      val sel = graft.Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val joined = graft.Tables.lineitem(spark, d)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter"),
        s"expected an injected bloom filter on the fact side:\n$plan")
      assert(joined.agg(sum("count")).head.getLong(0) > 0L)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
