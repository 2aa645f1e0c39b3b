package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Specs for the engine-utility operators: PageRank, profiling,
  * z-order layout keys, table checksums.
  */
class EngineOpsSpec extends AnyFunSuite with SparkSpec {

  test("exportJsonl: every row once, md5 shard order, byte-deterministic re-export") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val df = (1L to 50L).map(i => (i, s"text $i", i * 10L))
      .toDF("doc_id", "text", "n_chars")
    def export(dir: String): Map[Long, Array[Byte]] = {
      Layout.exportJsonl(df, "doc_id", dir, numShards = 4)
      (0L until 4L).map { sh =>
        val d = Paths.get(dir, s"shard=$sh")
        val parts = Files.list(d).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        sh -> parts.flatMap(p => Files.readAllBytes(p).toSeq).toArray
      }.toMap
    }
    val a = export("/tmp/jsonl-export-a")
    // all 50 rows exactly once, JSON round-trips the values
    val back = spark.read.json("/tmp/jsonl-export-a/shard=*/")
    assert(back.count() === 50L)
    assert(back.select("doc_id").distinct().count() === 50L)
    assert(back.filter(col("doc_id") === 7L).head.getAs[Long]("n_chars") === 70L)
    // within each shard file, lines follow the md5(doc_id) order
    val lines = new String(a(0L), "UTF-8").split("\n").filter(_.nonEmpty)
    val ids = lines.map(l => ujsonId(l))
    val md5s = df.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids.toSeq === ids.sortBy(md5s).toSeq, "shard 0 not in md5 order")
    // re-export is byte-identical
    val b = export("/tmp/jsonl-export-b")
    assert((0L until 4L).forall(sh => java.util.Arrays.equals(a(sh), b(sh))),
      "re-export must produce identical bytes")
  }

  private def ujsonId(line: String): Long = {
    val m = """"doc_id":(\d+)""".r.findFirstMatchIn(line)
    m.get.group(1).toLong
  }

  test("readJsonl: pinned-schema lossless round trip incl. unicode; FAILFAST on corrupt lines") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain ascii", 11L),
      (2L, "uni é中😀 \"quoted\" \\ back\nslash", 5L),
      (3L, null.asInstanceOf[String], 0L)).toDF("doc_id", "text", "n_chars")
    val dir = "/tmp/jsonl-roundtrip-spec"
    Layout.exportJsonl(df, "doc_id", dir, numShards = 2, compression = Some("gzip"))
    val back = Layout.readJsonl(spark, dir, df.schema)
      .select("doc_id", "text", "n_chars")
    val got = back.collect().map(r => r.getLong(0) ->
      ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(got(1L) === ((Some("plain ascii"), 11L)))
    // escapes, multibyte, surrogate pair, embedded newline all survive
    assert(got(2L) === ((Some("uni é中😀 \"quoted\" \\ back\nslash"), 5L)))
    assert(got(3L) === ((None, 0L)))
    // FAILFAST: a corrupt line is an error, not a silent null row
    val badDir = "/tmp/jsonl-corrupt-spec/shard=0"
    new java.io.File(badDir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(badDir, "part-00000.txt"),
      "{\"doc_id\":1,\"text\":\"ok\",\"n_chars\":2}\nnot json at all\n"
        .getBytes("UTF-8"))
    assertThrows[org.apache.spark.SparkException] {
      Layout.readJsonl(spark, "/tmp/jsonl-corrupt-spec", df.schema)
        .select("doc_id").collect()
    }
  }

  test("distributionDrift: exact TVD contributions, absent categories are pure drift") {
    import spark.implicits._
    // A: x×6, y×2, z×2 (n=10); B: x×2, y×2, w×1 (n=5)
    // |p_a − p_b|: x |0.6−0.4|=0.2, y |0.2−0.4|=0.2, z 0.2, w 0.2 → TVD=0.4
    val a = (Seq.fill(6)("x") ++ Seq.fill(2)("y") ++ Seq.fill(2)("z")).toDF("c")
    val b = (Seq.fill(2)("x") ++ Seq.fill(2)("y") ++ Seq("w")).toDF("c")
    val out = Profiling.distributionDrift(a, b, col("c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("x") === ((6L, 2L, 100000L)))
    assert(out("y") === ((2L, 2L, 100000L)))
    assert(out("z") === ((2L, 0L, 100000L))) // only in A
    assert(out("w") === ((0L, 1L, 100000L))) // only in B
    assert(out.values.map(_._3).sum === 400000L) // corpus TVD = 0.4

    // identical snapshots → zero drift everywhere
    val same = Profiling.distributionDrift(a, a, col("c")).collect()
    assert(same.forall(_.getLong(3) === 0L))
  }

  test("expectations: violation counts per family, pass flags, null-key semantics") {
    import spark.implicits._
    // id 4 duplicates key 3; id NULL row; price -5 bound breach; one orphan dept
    val emp = Seq(
      (Some(1L), Some("a"), 10L, Some(100L)),
      (Some(2L), Some("b"), 20L, Some(-5L)),
      (Some(3L), Some("a"), 10L, Some(30L)),
      (Some(3L), Some("c"), 99L, Some(40L)),   // dup id + orphan dept 99
      (None, Some("d"), 20L, None))            // null id, null salary
      .toDF("id", "name", "dept", "salary")
    val dept = Seq(10L, 20L).toDF("dept_id")
    val rep = Integrity.expectations(emp,
      rowChecks = Seq(
        "id complete" -> col("id").isNull,
        "salary positive" -> (col("salary") <= 0)),
      uniqueChecks = Seq("id unique" -> Seq("id")),
      refChecks = Seq(("dept in depts", col("dept"), dept, col("dept_id"))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(rep("id complete") === ((1L, false)))
    // NULL salary is not a bound violation (unknown, not broken)
    assert(rep("salary positive") === ((1L, false)))
    // 4 non-null-id rows, 3 distinct ids -> 1 duplicate; NULL id excluded
    assert(rep("id unique") === ((1L, false)))
    assert(rep("dept in depts") === ((1L, false)))

    // all-green suite: every check passes on clean data
    val clean = Seq((1L, 5L), (2L, 6L)).toDF("id", "v")
    val ok = Integrity.expectations(clean,
      rowChecks = Seq("v positive" -> (col("v") <= 0)),
      uniqueChecks = Seq("id unique" -> Seq("id")))
      .collect()
    assert(ok.forall(_.getBoolean(2)), ok.mkString(","))
  }

  test("bfsDistances: hop tiers on a chain, maxHops cap, multi-seed min, unreachable absent") {
    import spark.implicits._
    // chain 1→2→3→4→5, plus island 10→11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val out = Graphs.bfsDistances(edges, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L)) // 5 beyond cap
    // two seeds: distance is the MIN over seeds; seed overrides reachability
    val multi = Graphs.bfsDistances(edges, Seq(1L, 4L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(multi === Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L))
  }

  test("pageRankMicro: star graph ranks the hub above the spokes, mass conserved at teleport floor") {
    import spark.implicits._
    // spokes 1..4 all point at hub 0; hub points at node 1
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val r = Graphs.pageRankMicro(edges, iterations = 4)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank_micro")).toMap
    assert(r.size === 5)
    // the 0<->1 cycle oscillates between iterations (finite fixed
    // iteration count, by contract) — so compare each of the cycle
    // nodes against the teleport-only spokes, not against each other
    assert(r(0L) > r(2L))                    // hub gets 4 in-links
    assert(r(1L) > r(2L))                    // node 1 gets the hub's mass
    assert(r(2L) === r(3L) && r(3L) === r(4L)) // symmetric spokes tie exactly
    CacheRegistry.releaseAll()
  }

  test("pageRankMicro is deterministic across runs and partitionings") {
    import spark.implicits._
    val edges = (1L to 50L).map(i => (i, i % 7)).toDF("src", "dst")
    val a = Graphs.pageRankMicro(edges, iterations = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    CacheRegistry.releaseAll()
    val b = Graphs.pageRankMicro(edges.repartition(13), iterations = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq
    CacheRegistry.releaseAll()
    assert(a === b)
  }

  test("columnProfile counts nulls and distincts per column in one row each") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a")))
      .toDF("id", "s")
    val out = Profiling.columnProfile(df, Seq("id", "s"))
      .collect().map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
          r.getAs[Long]("n_distinct"), r.getAs[String]("min_val"),
          r.getAs[String]("max_val"))).toMap
    assert(out("id") === ((4L, 0L, 4L, "1", "4")))
    assert(out("s") === ((4L, 1L, 2L, "a", "b")))
  }

  test("columnProfile approxDistinct avoids the Expand and stays within HLL tolerance") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("id")
    val exact = Profiling.columnProfile(df, Seq("id"))
    val approx = Profiling.columnProfile(df, Seq("id"), approxDistinct = true)
    val expands = approx.queryExecution.executedPlan.toString()
    assert(!expands.contains("Expand"),
      "approx profile must be a plain single-pass aggregate")
    val nd = approx.collect().head.getAs[Long]("n_distinct")
    assert(math.abs(nd - 1000L) <= 50L) // HLL++ default rsd 5%
    assert(exact.collect().head.getAs[Long]("n_distinct") === 1000L)
  }

  test("zValue interleaves bits exactly (hand example) and orders locally") {
    import spark.implicits._
    // x=0b11, y=0b01 -> bits: x0->1, y0->2, x1->4, y1->0 => z=7
    val out = Seq((3L, 1L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 4).as("z")).collect()
    assert(out.head.getLong(0) === 7L)
    // z of (x,y) and (x+1,y) in a 2x2 quad share the high bits
    val z00 = Seq((4L, 4L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 4)).collect().head.getLong(0)
    val z11 = Seq((5L, 5L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 4)).collect().head.getLong(0)
    assert(z11 - z00 === 3L) // quad-local: (4,4)..(5,5) span exactly one quad
  }

  test("tableChecksum is order-independent and detects single-row changes") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val a = Integrity.tableChecksum(df, Seq(col("id"), col("v"))).collect().head
    val b = Integrity.tableChecksum(df.orderBy(rand(7)).repartition(11),
      Seq(col("id"), col("v"))).collect().head
    assert(a.getAs[Long]("checksum") === b.getAs[Long]("checksum"))
    assert(a.getAs[Long]("n_rows") === 100L)
    val mutated = df.withColumn("v",
      when(col("id") === 42L, lit("changed")).otherwise(col("v")))
    val c = Integrity.tableChecksum(mutated, Seq(col("id"), col("v"))).collect().head
    assert(c.getAs[Long]("checksum") !== a.getAs[Long]("checksum"))
  }

  test("cm_sketch: identical under repartitioning, est >= exact, mass conserved per row") {
    import spark.implicits._
    import graft.plans.CountMinSketch
    val df = (1L to 500L).flatMap(i => Seq.fill((i % 7 + 1).toInt)(i)).toDF("k")
    val a = df.agg(CountMinSketch.sketch(col("k"), 3, 64)).collect()
      .head.getSeq[Long](0)
    val b = df.repartition(17).agg(CountMinSketch.sketch(col("k"), 3, 64))
      .collect().head.getSeq[Long](0)
    assert(a === b) // commutative cell adds: partitioning-proof
    val total = df.count()
    (0 until 3).foreach { r =>
      assert(a.slice(r * 64, (r + 1) * 64).sum === total) // each row sees every item
    }
    val sk = df.agg(CountMinSketch.sketch(col("k"), 3, 64).as("sk"))
    val est = df.groupBy("k").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sk))
      .select(col("k"), col("exact"),
        CountMinSketch.estimate(col("sk"), col("k"), 3, 64).as("est"))
      .collect()
    assert(est.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("exact")))
  }

  test("cm_sketch is SQL-callable after runtime registration") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    (1L to 100L).toDF("id").createOrReplaceTempView("cm_ids")
    val arr = spark.sql("SELECT cm_sketch(id, 2, 32) AS sk FROM cm_ids")
      .collect().head.getSeq[Long](0)
    assert(arr.length === 64 && arr.sum === 200L)
  }

  test("z-ordered layout bounds per-file min/max on BOTH dimensions from one sort key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val n = 1 << 14
    val df = (0L until n).map(i => (i % 128, i / 128)).toDF("x", "y")
      .withColumn("z", Layout.zValue(col("x"), col("y"), 7))
    // one range-sort by z = the layout write; 16 files
    df.repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .write.mode("overwrite").parquet(dir)
    // per-file [min,max] of each dimension — exactly the footer stats
    // parquet min/max skipping consults. A z-contiguous file covers a
    // LOCAL region of the (x,y) plane, so a tight range on EITHER
    // dimension intersects only a minority of files; a plain x-sort
    // would bound x but leave every file spanning all of y.
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size === 16)
    val stats = files.map { f =>
      spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).collect().head
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def overlapX(lo: Long, hi: Long) =
      stats.count { case (xl, xh, _, _) => xh >= lo && xl < hi }
    def overlapY(lo: Long, hi: Long) =
      stats.count { case (_, _, yl, yh) => yh >= lo && yl < hi }
    // width-8 slices (1/16 of each 128-wide domain)
    assert(overlapX(8, 16) <= 8, s"x slice hits ${overlapX(8, 16)}/16 files")
    assert(overlapY(8, 16) <= 8, s"y slice hits ${overlapY(8, 16)}/16 files")
  }

  test("hll_registers: partitioning-proof, lossless group merge, estimate in tolerance") {
    import spark.implicits._
    import graft.plans.HllSketch
    val df = (1L to 2000L).map(i => (i, (i % 4).toString)).toDF("id", "g")
    val a = df.agg(HllSketch.registers(col("id"), 64)).collect().head.getSeq[Long](0)
    val b = df.repartition(13).agg(HllSketch.registers(col("id"), 64))
      .collect().head.getSeq[Long](0)
    assert(a === b)
    // merging per-group sketches (register max) must equal the global sketch
    val perGroup = df.groupBy("g").agg(HllSketch.registers(col("id"), 64).as("r"))
      .collect().map(_.getSeq[Long](1))
    val merged = perGroup.reduce((x, y) => x.zip(y).map { case (u, v) => math.max(u, v) })
    assert(merged === a)
    val est = df.agg(HllSketch.registers(col("id"), 64).as("regs"))
      .select(HllSketch.estimate("regs", 64).as("e")).collect().head.getLong(0)
    assert(math.abs(est - 2000L) <= 800L) // raw HLL at m=64: rsd ~13%
  }

  test("hll_registers is SQL-callable after runtime registration") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    (1L to 100L).toDF("id").createOrReplaceTempView("hll_ids")
    val arr = spark.sql("SELECT hll_registers(id, 32) AS r FROM hll_ids")
      .collect().head.getSeq[Long](0)
    assert(arr.length === 32 && arr.count(_ > 0) > 16) // most buckets hit at n=100
  }

  test("heavyHitters equals the exact HAVING answer on a long-tailed stream") {
    import spark.implicits._
    // 5 heavy keys (150..400 occurrences) over a 2000-key long tail
    val heavy = (1L to 5L).flatMap(k => Seq.fill((100 * k + 50).toInt)(k))
    val tail = (100L until 2100L).flatMap(k => Seq.fill(3)(k))
    val df = scala.util.Random.shuffle(heavy ++ tail).toDF("k")
    val got = Sketches.heavyHitters(df, col("k"), threshold = 100, width = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want) // exact despite the tiny, collision-heavy 3x64 sketch
    assert(want.size === 5)
  }

  test("compact rewrites a many-small-file dir to few files, content-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact-test").toString + "/t"
    (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(40).write.parquet(dir)
    val before = graft.operators.Integrity.tableChecksum(
      spark.read.parquet(dir), Seq(col("id"), col("v"))).collect().head
    val (nb, na, bytes) = Layout.compact(spark, dir, targetBytes = 1L << 30,
      sortCols = Seq("id"))
    assert(nb === 40L && na === 1L && bytes > 0L)
    // order-independent checksum: identical rows survived the rewrite
    val after = graft.operators.Integrity.tableChecksum(
      spark.read.parquet(dir), Seq(col("id"), col("v"))).collect().head
    assert(after === before)
    // sorted rewrite: the single file's min/max envelope is the full range
    assert(spark.read.parquet(dir).agg(min("id"), max("id")).head ===
      org.apache.spark.sql.Row(1L, 5000L))
    // leftovers from the swap are gone
    assert(!new java.io.File(dir + ".compact.tmp").exists)
    assert(!new java.io.File(dir + ".compact.old").exists)
    // a directory-partitioned table is refused, not silently flattened
    val pdir = java.nio.file.Files.createTempDirectory("compact-part").toString + "/p"
    (1L to 10L).map(i => (i, i % 2)).toDF("id", "part")
      .write.partitionBy("part").parquet(pdir)
    val ex = intercept[IllegalArgumentException] {
      Layout.compact(spark, pdir)
    }
    assert(ex.getMessage.contains("partitioned"))
  }

  test("cooccurrenceEdges: distinct-basket counts, minShared, hot-basket drop") {
    import spark.implicits._
    // baskets: 10{1,2,3}, 11{1,2}, 12{1,2} (item 1 duplicated in 11 —
    // must count once), 13{1..6} over the cap of 5 — dropped whole
    val rows = Seq((10L,1L),(10L,2L),(10L,3L),(11L,1L),(11L,1L),(11L,2L),
      (12L,1L),(12L,2L)) ++ (1L to 6L).map(i => (13L, i))
    val e = Graphs.cooccurrenceEdges(rows.toDF("b", "it"), "b", "it",
        minShared = 2, maxBasketSize = 5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_shared"))).toSet
    CacheRegistry.releaseAll()
    // without the cap-drop, the hot basket would lift (1,2) to 4 and
    // admit pairs like (4,5); without distinct, (1,2) would be 4 too
    assert(e === Set((1L, 2L, 3L)))
  }

  test("triangleCount: hand graphs (K4, diagonal square, star) count exactly") {
    import spark.implicits._
    def count(edges: Seq[(Long, Long)]): (Long, Long) = {
      val r = Graphs.triangleCount(edges.toDF("a", "b")).collect().head
      CacheRegistry.releaseAll()
      (r.getAs[Long]("n_edges"), r.getAs[Long]("n_triangles"))
    }
    // K4: C(4,3) = 4 triangles
    assert(count(Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))) === ((6L, 4L)))
    // square + one diagonal: two triangles
    assert(count(Seq((1L,2L),(2L,3L),(3L,4L),(4L,1L),(1L,3L))) === ((5L, 2L)))
    // star: no triangles at all (hub degree 5, orientation must not blow up or miscount)
    assert(count(Seq((9L,1L),(9L,2L),(9L,3L),(9L,4L),(9L,5L))) === ((5L, 0L)))
  }

  test("scd2Historize collapses repeats, versions changes, flags current") {
    import spark.implicits._
    // user 1: a a b a (4 events, 3 versions); user 2: x (1 version);
    // user 1 has a same-instant tie at t=30 broken by event_id.
    val log = Seq(
      (1L, "a", 10L, 100L), (1L, "a", 20L, 101L),
      (1L, "c", 30L, 103L), (1L, "b", 30L, 102L),
      (2L, "x", 5L, 104L)
    ).toDF("user_id", "state", "t", "event_id")
    val h = Relational.scd2Historize(log, Seq("user_id"), "t",
        Seq("state"), tieCols = Seq("event_id"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("state"),
        r.getAs[Long]("valid_from"), Option(r.getAs[Any]("valid_to")),
        r.getAs[Int]("version"), r.getAs[Boolean]("is_current")))
      .sortBy(r => (r._1, r._5))
    assert(h === Seq(
      (1L, "a", 10L, Some(30L), 1, false), // repeat at t=20 collapsed
      (1L, "b", 30L, Some(30L), 2, false), // tie: id 102 before 103 — zero-width
      (1L, "c", 30L, None, 3, true),
      (2L, "x", 5L, None, 1, true)))
  }

  test("scd2Historize: current versions agree with latestVersion on random logs") {
    import spark.implicits._
    // deterministic pseudo-random log: 40 keys × 30 events, state drawn
    // from 4 values so runs both collapse and change
    val rnd = new scala.util.Random(7)
    val log = (for { k <- 1L to 40L; i <- 1L to 30L } yield
      (k, s"s${rnd.nextInt(4)}", i * 10 + rnd.nextInt(3), k * 1000 + i))
      .toDF("k", "state", "t", "seq")
    val hist = Relational.scd2Historize(log, Seq("k"), "t",
      Seq("state"), tieCols = Seq("seq"))
    // every key has exactly one open (is_current) version...
    val cur = hist.filter(col("is_current"))
      .select("k", "state").as[(Long, String)].collect().toMap
    assert(cur.size === 40)
    // ...and it matches the independent latest-per-key view
    val latest = Relational.latestVersion(log, Seq("k"),
        Seq(col("t"), col("seq")))
      .select("k", "state").as[(Long, String)].collect().toMap
    assert(cur === latest)
    // intervals chain: each non-current valid_to equals the next valid_from
    val bad = hist.as("a").join(hist.as("b"),
        col("a.k") === col("b.k") &&
          col("a.version") + 1 === col("b.version") &&
          !(col("a.valid_to") <=> col("b.valid_from")))
      .count()
    assert(bad === 0L)
  }

  test("triangleCount agrees with a brute-force count on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      val adj = edges.toSet
      val expect = (for {
        a <- 1 to n; b <- (a + 1) to n; c <- (b + 1) to n
        if adj((a.toLong, b.toLong)) && adj((b.toLong, c.toLong)) &&
          adj((a.toLong, c.toLong))
      } yield 1).size.toLong
      val r = Graphs.triangleCount(edges.toDF("a", "b")).collect().head
      CacheRegistry.releaseAll()
      assert(r.getAs[Long]("n_edges") === edges.size.toLong)
      assert(r.getAs[Long]("n_triangles") === expect,
        s"seed $seed: got ${r.getAs[Long]("n_triangles")}, want $expect")
    }
  }

  test("snapshotDiff emits U/D/changed only, and applyCdc round-trips it") {
    import spark.implicits._
    val old = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Some("c"), 30L), (4L, None: Option[String], 40L))
      .toDF("id", "v", "n")
    val neu = Seq((1L, Some("a"), 10L),              // unchanged -> no row
      (2L, Some("B"), 20L),                          // changed   -> U
      (4L, Some("d"), 40L),                          // null -> value: U
      (5L, None: Option[String], 50L))               // inserted (null v): U
      .toDF("id", "v", "n")                          // 3 deleted -> D
    val diff = Relational.snapshotDiff(old, neu, Seq("id"))
    val got = diff.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        r.getString(3))).toSet
    assert(got === Set(
      (2L, Some("B"), 20L, "U"), (4L, Some("d"), 40L, "U"),
      (5L, None, 50L, "U"), (3L, Some("c"), 30L, "D")))
    // algebraic contract: applying the diff to old reproduces new
    val applied = Relational.applyCdc(old, diff, Seq("id")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    val want = neu.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(applied === want)
  }

  test("hitsMicro: hand-folded two iterations on a tiny bipartite graph") {
    import spark.implicits._
    // 1→3, 1→4, 2→4 at mass 1000:
    // it1: rawA 3=1000, 4=2000 → a 3=500, 4=1000
    //      rawH 1=1500, 2=1000 → h 1=1000, 2=666
    // it2: rawA 3=1000, 4=1666 → a 3=600, 4=1000
    //      rawH 1=1600, 2=1000 → h 1=1000, 2=625
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 4L)).toDF("src", "dst")
    val out = Graphs.hitsMicro(edges, iterations = 2, massMicro = 1000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> ((0L, 1000L)), 2L -> ((0L, 625L)),
      3L -> ((600L, 0L)), 4L -> ((1000L, 0L))))
  }

  test("cohenKappa: perfect 1.0, inverted -1.0, degenerate null") {
    import spark.implicits._
    def kappa(pairs: Seq[(Int, Int)]): Option[Long] = {
      val r = Profiling.cohenKappa(pairs.toDF("a", "b"), col("a"), col("b"))
        .collect()(0)
      CacheRegistry.releaseAll()
      if (r.isNullAt(3)) None else Some(r.getLong(3))
    }
    assert(kappa(Seq((0, 0), (1, 1), (2, 2), (0, 0))) === Some(1000L))
    // systematic inversion on balanced labels: worse than chance, κ = −1
    assert(kappa(Seq((0, 1), (0, 1), (1, 0), (1, 0))) === Some(-1000L))
    // both sides constant and identical: p_e = 1, κ undefined
    assert(kappa(Seq((5, 5), (5, 5))) === None)
  }

  test("ksTest: hand ECDF gaps, smallest-score tie rule, perfect separation") {
    import spark.implicits._
    // a={1,2,3}, b={2,3,4}: gap·9 = 3 at s=1,2,3 (tie) → D=1/3, at s=1
    val a = Seq(1L, 2L, 3L).toDF("score")
    val b = Seq(2L, 3L, 4L).toDF("score")
    val r = Profiling.ksTest(a, b, "score").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 3L, 333333L, 1L)))
    // disjoint supports → D = 1, attained at a's max
    val r2 = Profiling.ksTest(Seq(1L, 2L).toDF("score"),
      Seq(10L, 11L).toDF("score"), "score").collect()(0)
    assert((r2.getLong(2), r2.getLong(3)) === ((1000000L, 2L)))
    // identical samples → D = 0
    val r3 = Profiling.ksTest(a, a, "score").collect()(0)
    assert(r3.getLong(2) === 0L)
  }

  test("entropyBits: exact powers of two, degenerate zero, skewed vs reference") {
    import spark.implicits._
    import graft.functions.IntMath.fracLog2Ref
    val rows = Seq.tabulate(8)(i => ("u", s"k${i % 4}")) ++ // uniform 4×2 → H = 2 bits
      Seq.fill(5)(("z", "only")) ++                          // one key → H = 0
      (Seq.fill(3)(("s", "a")) ++ Seq(("s", "b")))           // 3/1 skew
    val got = Profiling.entropyBits(rows.toDF("g", "k"), "g", col("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("u") === ((8L, 4L, 2048L))) // exactly 2 bits in 1024ths
    assert(got("z") === ((5L, 1L, fracLog2Ref(5L, 1L) - (5 * fracLog2Ref(5L, 1L)) / 5)))
    assert(got("z")._3 === 0L)
    val expS = fracLog2Ref(4L, 1L) - (3 * fracLog2Ref(3L, 1L) + 1 * 0L) / 4
    assert(got("s") === ((4L, 2L, expS))) // ≈ 0.811 bits
    assert(expS > 700 && expS < 900)
  }

  test("zipfFit: sums and slope match the scalar fracLog2 reference fold") {
    import spark.implicits._
    import graft.functions.IntMath.fracLog2Ref
    // freqs 8/4/2/1 → ranks 1..4 (ties impossible); replay the exact
    // normal equations with the scalar reference recurrence
    val docs = Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d")
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val freqs = Seq(8L, 4L, 2L, 1L)
    val pts = freqs.zipWithIndex.map { case (f, i) =>
      (fracLog2Ref(i + 1L, 1L), fracLog2Ref(f, 1L)) }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum
    val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val got = Profiling.zipfFit(df, col("text"), topN = 128).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) === ((n, sx, sy, sxx, sxy)))
    assert(got.getLong(5) === num && got.getLong(6) === den)
    assert(got.getLong(7) === (1000 * num) / den) // toward-zero division
    // 8/4/2/1 over ranks 1..4 halves every rank — steeper than Zipf's
    // 1/r (which would be 8, 4, 2.67, 2); least squares gives −1.459
    assert(got.getLong(7) === -1459L)
  }

  test("kmvSketch: exact small sets; estimates within KMV error bounds; set ops") {
    import spark.implicits._
    // A = 1..2000, B = 1001..3000: |A∩B|=1000, |A∪B|=3000, J=1/3
    val rows = (1 to 2000).map(i => ("A", i.toLong)) ++
      (1001 to 3000).map(i => ("B", i.toLong)) ++
      (1 to 10).map(i => ("C", i.toLong))
    val df = rows.toDF("g", "key")
    val sk = Sketches.kmvSketch(df, "g", col("key"), k = 256)
    val byG = sk.collect().map(r => r.getString(0) ->
      ((r.getSeq[Long](1).size, r.getLong(2), r.getLong(3)))).toMap
    assert(byG("C") === ((10, 10L, 10L))) // n < k: sketch IS the set, est exact
    assert(byG("A")._2 === 2000L)
    // KMV(256) relative std error ≈ 1/sqrt(254) ≈ 6.3%; assert 3σ
    assert(math.abs(byG("A")._3 - 2000L) <= 400, s"est A = ${byG("A")._3}")
    assert(math.abs(byG("B")._3 - 2000L) <= 400, s"est B = ${byG("B")._3}")
    val pairs = Sketches.kmvPairOps(sk, k = 256).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val (jm, uest, iest) = pairs(("A", "B"))
    assert(math.abs(jm - 333L) <= 110, s"jaccard_milli = $jm") // 1/3 ± 3σ-ish
    assert(math.abs(uest - 3000L) <= 600, s"union_est = $uest")
    assert(math.abs(iest - 1000L) <= 450, s"inter_est = $iest")
    // A-C: C ⊂ A, tiny exact set; union ≈ |A|, intersection ≈ 10 — the
    // asymmetric case: jaccard small but nonzero only if C's hashes
    // survive into A∪C's bottom-k (they may not; assert union instead)
    val (_, uAC, _) = pairs(("A", "C"))
    assert(math.abs(uAC - 2000L) <= 400, s"union_est(A,C) = $uAC")
    CacheRegistry.releaseAll()
  }

  test("globalPrefixSum: exclusive running total matches the serial fold") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (6L, 60L))
      .toDF("id", "v")
    val got = Relational.globalPrefixSum(df, "id", "v", "off")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 0L, 2L -> 10L, 3L -> 30L, 4L -> 60L,
      5L -> 100L, 6L -> 150L))
    CacheRegistry.releaseAll()
  }

  test("vocabGrowth: first-occurrence buckets and cumulative types") {
    import spark.implicits._
    // global positions: d1 "a b a" → a@0 b@1, d2 "b c" → b@3 c@4,
    // d3 "d" → d@5; bucket size 2: b0 {a,b}=2, b2 {c,d}=2; cum 2, 4
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d")).toDF("doc_id", "text")
    val got = Profiling.vocabGrowth(docs, "doc_id", col("text"), bucketTokens = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toList
    assert(got === List((0L, 0L, 2L, 2L), (2L, 4L, 2L, 4L)))
    CacheRegistry.releaseAll()
  }

  test("aucExact: hand-computed pairs incl. half-credit ties; degenerate group null") {
    import spark.implicits._
    val df = Seq(
      // group g: pos {3, 2}, neg {1, 2} → pairs 3>1, 3>2, 2>1 win,
      // (2,2) tie half → AUC = 3.5/4 = 0.875
      ("g", 3L, 1), ("g", 2L, 1), ("g", 1L, 0), ("g", 2L, 0),
      // group p: perfect separation → AUC = 1
      ("p", 10L, 1), ("p", 1L, 0), ("p", 2L, 0),
      // group h: positives only → AUC undefined
      ("h", 5L, 1), ("h", 6L, 1)
    ).toDF("src", "score", "label")
    val out = Profiling.aucExact(df, "label", "score", groupCols = Seq("src"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(out("g") === ((2L, 2L, Some(875000L))))
    assert(out("p") === ((1L, 2L, Some(1000000L))))
    assert(out("h") === ((2L, 0L, None)))
    // ungrouped over the same g rows: single-row frame, same value
    val g = Profiling.aucExact(df.filter($"src" === "g"), "label", "score")
      .collect()
    assert(g.length === 1 && g(0).getLong(2) === 875000L)
  }

  test("applyCdc upserts, deletes, and rejects unknown ops") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B", "U"), (3L, "c", "D"), (4L, "d", "U"))
      .toDF("id", "v", "op")
    val out = Relational.applyCdc(base, changes, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "a", 2L -> "B", 4L -> "d")) // 3 deleted, 2 replaced, 4 inserted
    val badOps = Seq((9L, "x", "Z")).toDF("id", "v", "op")
    val ex = intercept[Exception] {
      Relational.applyCdc(base, badOps, Seq("id")).collect()
    }
    assert(ex.getMessage != null)
  }
}
