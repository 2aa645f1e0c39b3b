package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"warc-$tag").toString

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "http://e/1", "2024-01-01 00:00:01", "hello"),
      (2L, "http://e/2", "2024-01-01 00:00:02", "WARC/1.0\r\nnot a record"),
      (3L, "http://e/3", "2024-01-01 00:00:03", "naïve bytes")
    ).toDF("doc_id", "uri", "d", "text")
      .withColumn("d", to_timestamp(col("d")))
  }

  test("export writes byte-exact WARC (golden literal, uncompressed)") {
    val dir = tmpDir("golden")
    // one shard → one file: warcinfo then docs in id order
    Warc.export(docsDf, "doc_id", "uri", "d", "text", dir, numShards = 1,
      compress = false, infoDateSecs = 0L, shardCol = Some(lit(0)))
    val got = new String(
      Files.readAllBytes(Paths.get(dir, "part-00000.warc")), UTF_8)
    // golden literal: hand-assembled from the spec layout; md5("warcinfo-0"),
    // md5("1"),... precomputed EXTERNALLY (python hashlib), so the
    // expectation shares no code with the renderer
    val expected =
      "WARC/1.0\r\n" +
        "WARC-Type: warcinfo\r\n" +
        "WARC-Record-ID: <urn:uuid:a9576cda-98d0-07d2-8464-94c3ffa84270>\r\n" +
        "WARC-Date: 1970-01-01T00:00:00Z\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        "Content-Length: 56\r\n" +
        "\r\n" +
        "software: graft-warc/1.0\r\nformat: WARC File Format 1.0\r\n" +
        "\r\n\r\n" +
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:c4ca4238-a0b9-2382-0dcc-509a6f75849b>\r\n" +
        "WARC-Date: 2024-01-01T00:00:01Z\r\n" +
        "WARC-Target-URI: http://e/1\r\n" +
        "Content-Type: text/plain\r\n" +
        "Content-Length: 5\r\n" +
        "\r\n" +
        "hello" +
        "\r\n\r\n" +
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:c81e728d-9d4c-2f63-6f06-7f89cc14862c>\r\n" +
        "WARC-Date: 2024-01-01T00:00:02Z\r\n" +
        "WARC-Target-URI: http://e/2\r\n" +
        "Content-Type: text/plain\r\n" +
        "Content-Length: 22\r\n" +
        "\r\n" +
        "WARC/1.0\r\nnot a record" +
        "\r\n\r\n" +
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:eccbc87e-4b5c-e2fe-2830-8fd9f2a7baf3>\r\n" +
        "WARC-Date: 2024-01-01T00:00:03Z\r\n" +
        "WARC-Target-URI: http://e/3\r\n" +
        "Content-Type: text/plain\r\n" +
        "Content-Length: 12\r\n" + // "naïve bytes" is 12 UTF-8 bytes (ï = 2)
        "\r\n" +
        "naïve bytes" +
        "\r\n\r\n"
    assert(got === expected)
  }

  test("gz roundtrip: per-record members, payload with embedded WARC magic, offsets") {
    val dir = tmpDir("rt")
    Warc.export(docsDf, "doc_id", "uri", "d", "text", dir, numShards = 2,
      compress = true, infoDateSecs = 0L,
      shardCol = Some(pmod(col("doc_id"), lit(2))))
    assert(Files.exists(Paths.get(dir, "part-00000.warc.gz")))
    assert(Files.exists(Paths.get(dir, "part-00001.warc.gz")))

    val back = spark.read.format("warc").load(dir)
    // one input partition per file — the documented parallelism unit
    assert(back.rdd.getNumPartitions === 2)

    val responses = back.filter(col("warc_type") === "response")
      .select(col("record_id"), col("target_uri"), col("warc_date"),
        col("content_length"), col("payload").cast("string").as("text"))
      .orderBy("target_uri").collect()
    assert(responses.length === 3)
    assert(responses(0).getString(0) === "urn:uuid:c4ca4238-a0b9-2382-0dcc-509a6f75849b")
    assert(responses(1).getString(4) === "WARC/1.0\r\nnot a record")
    assert(responses(1).getLong(3) === 22L)
    assert(responses(2).getString(4) === "naïve bytes")
    assert(responses(2).getLong(3) === 12L)
    assert(responses(0).getTimestamp(2).toInstant ===
      java.time.Instant.parse("2024-01-01T00:00:01Z"))

    // offsets: decompressed-stream positions. Shard 1 file = warcinfo
    // (196 bytes: golden above with shard-1 uuid, same lengths) then
    // doc 1, doc 3; shard 0 = warcinfo then doc 2.
    val offs = back.select("warc_file", "warc_offset", "warc_type", "target_uri")
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3)) -> r.getLong(1)).toMap
    assert(offs(("part-00001.warc.gz", "warcinfo", null)) === 0L)
    assert(offs(("part-00000.warc.gz", "warcinfo", null)) === 0L)
    // golden warcinfo record byte length: 10+21+65+33+39+20+2+56+4
    val infoLen = 250L
    assert(offs(("part-00001.warc.gz", "response", "http://e/1")) === infoLen)
    assert(offs(("part-00000.warc.gz", "response", "http://e/2")) === infoLen)
  }

  test("column pruning skips payload; type filter drops records pre-payload") {
    val dir = tmpDir("prune")
    Warc.export(docsDf, "doc_id", "uri", "d", "text", dir, numShards = 1,
      compress = false, shardCol = Some(lit(0)))
    val pruned = spark.read.format("warc").load(dir)
      .select("target_uri", "content_length")
    val plan = pruned.queryExecution.executedPlan.toString
    assert("BatchScan warc:.*\\[target_uri#\\d+, content_length#\\d+L\\]".r
      .findFirstIn(plan).isDefined, s"expected pruned BatchScan in:\n$plan")
    assert(pruned.count() === 4L) // warcinfo + 3 responses

    val filtered = spark.read.format("warc").load(dir)
      .filter(col("warc_type") === "response")
    assert(filtered.count() === 3L)
    assert(filtered.agg(sum("content_length")).head.getLong(0) === 39L)
  }

  test("httpMessage: status/headers/body split, duplicate headers preserved, bare payloads tolerated") {
    import spark.implicits._
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nSet-Cookie: a=1\r\n" +
        "Set-Cookie: b=2\r\n\r\n<html>body\r\n\r\nwith blank</html>"),
      (2L, "no http here at all"),
      (3L, "HTTP/1.0 301 Moved Permanently\r\nLocation: /x\r\n\r\n")
    ).toDF("id", "p")
    val m = rows.select(col("id"), Warc.httpMessage(col("p")).as("m"))
      .orderBy("id").collect()
    val r1 = m(0).getStruct(1)
    assert(r1.getAs[String]("http_version") === "1.1")
    assert(r1.getAs[Int]("status_code") === 200)
    assert(r1.getAs[String]("reason") === "OK")
    assert(r1.getAs[Long]("n_headers") === 3L) // duplicate Set-Cookie kept
    assert(r1.getAs[String]("content_type") === "text/html")
    // body splits at the FIRST blank line only — a blank line IN the
    // body survives
    assert(r1.getAs[String]("body") === "<html>body\r\n\r\nwith blank</html>")
    val r2 = m(1).getStruct(1)
    assert(r2.getAs[Any]("status_code") === null)
    assert(r2.getAs[Any]("http_version") === null)
    assert(r2.getAs[Long]("n_headers") === 0L)
    assert(r2.getAs[String]("body") === "no http here at all")
    val r3 = m(2).getStruct(1)
    assert(r3.getAs[Int]("status_code") === 301)
    assert(r3.getAs[String]("reason") === "Moved Permanently")
    assert(r3.getAs[Any]("content_type") === null)
    assert(r3.getAs[String]("body") === "")
  }

  test("dedupByDigest: one response per distinct payload, revisits point at the original") {
    import spark.implicits._
    val dir = tmpDir("revisit")
    val docs = Seq(
      (1L, "http://e/1", "2024-01-01 00:00:01", "same page"),
      (2L, "http://e/2", "2024-01-01 00:00:02", "unique"),
      (3L, "http://e/3", "2024-01-01 00:00:03", "same page"),
      (4L, "http://e/4", "2024-01-01 00:00:04", "same page")
    ).toDF("doc_id", "uri", "d", "text")
      .withColumn("d", to_timestamp(col("d")))
    Warc.export(docs, "doc_id", "uri", "d", "text", dir, numShards = 2,
      compress = false, shardCol = Some(pmod(col("doc_id"), lit(2))),
      dedupByDigest = true)
    val back = spark.read.format("warc").load(dir)
      .filter(col("warc_type") =!= "warcinfo").collect()
      .map(r => r.getAs[String]("target_uri") -> r).toMap
    assert(back("http://e/1").getAs[String]("warc_type") === "response")
    assert(back("http://e/2").getAs[String]("warc_type") === "response")
    assert(back("http://e/3").getAs[String]("warc_type") === "revisit")
    assert(back("http://e/4").getAs[String]("warc_type") === "revisit")
    // pointer resolves to the ORIGINAL capture's record id, across shards
    val origId = back("http://e/1").getAs[String]("record_id")
    assert(back("http://e/3").getAs[String]("refers_to") === origId)
    assert(back("http://e/4").getAs[String]("refers_to") === origId)
    // revisits carry the shared digest and no body
    assert(back("http://e/3").getAs[String]("payload_digest") ===
      "md5:" + java.security.MessageDigest.getInstance("MD5")
        .digest("same page".getBytes(UTF_8)).map("%02x".format(_)).mkString)
    assert(back("http://e/3").getAs[Long]("content_length") === 0L)
    assert(back("http://e/1").getAs[Any]("refers_to") === null)
    assert(new String(back("http://e/1").getAs[Array[Byte]]("payload"), UTF_8)
      === "same page")
  }

  test("streaming source: micro-batches pick up only newly arrived files") {
    import spark.implicits._
    val dir = tmpDir("stream")
    def wave(parityEq: Int, shardBase: Int): Unit =
      Warc.export(docsDf.filter(pmod(col("doc_id"), lit(2)) === parityEq),
        "doc_id", "uri", "d", "text", dir, numShards = 2, compress = true,
        shardCol = Some(pmod(col("doc_id"), lit(2)) + lit(shardBase)))
    wave(0, 0) // doc 2 → part-0000{0,1} range
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("warc").load(dir)
      .filter(col("warc_type") === "response")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.select("target_uri").collect()
          .foreach(r => seen.synchronized { seen += id -> r.getString(0) })
        ()
      }.start()
    try {
      q.processAllAvailable()
      val firstBatchUris = seen.toList.map(_._2).sorted
      assert(firstBatchUris === List("http://e/2")) // only the even doc
      wave(1, 2) // docs 1, 3 → part-0000{2,3}: names sort AFTER wave 1
      q.processAllAvailable()
      val byBatch = seen.toList.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      assert(byBatch.size === 2, s"expected two micro-batches, got $byBatch")
      val Seq(b0, b1) = byBatch.keys.toSeq.sorted
      assert(byBatch(b0) === List("http://e/2"))
      assert(byBatch(b1) === List("http://e/1", "http://e/3")) // no reprocessing
    } finally q.stop()
  }

  test("streaming source: a file named below the committed watermark is never picked up (documented contract)") {
    import spark.implicits._
    val dir = tmpDir("wmark")
    // docsDf ids 1,2,3 → residues mod 3: doc 3 → 0, doc 1 → 1, doc 2 → 2
    def wave(residue: Int, shardBase: Int): Unit =
      Warc.export(docsDf.filter(pmod(col("doc_id"), lit(3)) === residue),
        "doc_id", "uri", "d", "text", dir, numShards = 1, compress = true,
        shardCol = Some(lit(shardBase)))
    wave(2, 2) // doc 2 → part-00002: the committed watermark
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("warc").load(dir)
      .filter(col("warc_type") === "response")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("target_uri").collect()
          .foreach(r => seen.synchronized { seen += r.getString(0) })
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.sorted.toList === List("http://e/2"))
      // doc 1 lands as part-00000 — lexicographically BELOW the
      // committed part-00002 watermark: the contract says it is
      // skipped, silently and permanently
      wave(1, 0)
      q.processAllAvailable()
      assert(seen.sorted.toList === List("http://e/2"),
        "below-watermark file must not be picked up")
      // and the stream keeps going: doc 3 as part-00003 (above) flows
      wave(0, 3)
      q.processAllAvailable()
      assert(seen.sorted.toList === List("http://e/2", "http://e/3"),
        "above-watermark arrivals must still flow after a skipped file")
    } finally q.stop()
  }

  test("conversion records carry refers_to and round-trip as WET") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("wet")
    val derived = docsDf.select(
      concat(lit("conv-"), col("doc_id")).as("k"), col("uri"), col("d"),
      upper(col("text")).as("text"),
      lit("urn:uuid:00000000-0000-0000-0000-000000000042").as("orig"))
    Warc.export(derived, "k", "uri", "d", "text", dir, numShards = 1,
      compress = true, contentType = "text/plain", infoDateSecs = 0L,
      shardCol = Some(lit(0)), warcType = "conversion",
      refersToCol = Some(col("orig")))
    val back = spark.read.format("warc").load(dir)
      .filter(col("warc_type") === "conversion")
      .select("target_uri", "refers_to", "content_type", "payload")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2),
          new String(r.getAs[Array[Byte]](3), UTF_8)))).toMap
    assert(back.size === 3)
    assert(back("http://e/1") ===
      (("urn:uuid:00000000-0000-0000-0000-000000000042", "text/plain", "HELLO")))
    // dedupByDigest emits revisit records — incompatible with conversion
    intercept[IllegalArgumentException] {
      Warc.export(derived, "k", "uri", "d", "text", tmpDir("wetbad"),
        numShards = 1, warcType = "conversion", dedupByDigest = true)
    }
  }

  test("member_split_bytes: split read is record-identical to the unsplit read (no dup, no loss)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("split")
    // one big single-shard .warc.gz with varied payload sizes — some
    // payloads contain WARC version lines and member-ish text to make
    // boundary verification earn its keep
    val docs = (1L to 400L).map { i =>
      val body =
        if (i % 7 == 0) s"WARC/1.0\r\nWARC-Type: response\r\nfake inner $i " + ("x" * 2000)
        else s"payload $i " + ("y" * (i % 50).toInt * 40)
      (i, s"http://e/$i", "2024-01-01 00:00:01", body)
    }.toDF("doc_id", "uri", "d", "text")
      .withColumn("d", to_timestamp(col("d")))
    Warc.export(docs, "doc_id", "uri", "d", "text", dir, numShards = 1,
      compress = true, infoDateSecs = 0L, shardCol = Some(lit(0)))
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).head
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("record_id"), col("warc_type"), col("target_uri"),
        col("warc_date").cast("string"), col("content_type"),
        col("content_length"), col("payload_digest"),
        md5(col("payload")).as("pm"))
      .collect().map(_.toString).sorted.toSeq
    val unsplit = key(spark.read.format("warc").load(dir))
    // several granularities: tiny (most ranges hold < 1 member and
    // must come back empty or align forward), member-sized, and
    // near-file-sized (1-2 ranges); identity must hold at every one
    for (sb <- Seq(512L, 4096L, 65536L, f.length() - 1)) {
      val split = spark.read.format("warc")
        .option("member_split_bytes", sb.toString).load(dir)
      assert(key(split) === unsplit, s"split_bytes=$sb")
      // offsets under splitting stay unique per file (member locator)
      val offs = split.select(col("warc_offset")).collect().map(_.getLong(0))
      assert(offs.distinct.length === offs.length, s"split_bytes=$sb")
    }
    assert(spark.read.format("warc")
      .option("member_split_bytes", "4096").load(dir)
      .rdd.getNumPartitions > 10, "expected many ranges at 4 KiB")
    assert(f.length() > 65536, "fixture must exceed the largest split size")
  }

  test("truncated payload fails loudly, never yields a short record") {
    val dir = tmpDir("trunc")
    Warc.export(docsDf.limit(1), "doc_id", "uri", "d", "text", dir,
      numShards = 1, compress = false, shardCol = Some(lit(0)))
    val p = Paths.get(dir, "part-00000.warc")
    val all = Files.readAllBytes(p)
    Files.write(p, all.dropRight(9)) // cut into the last payload
    val ex = intercept[Exception] {
      spark.read.format("warc").load(dir).count()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString
    assert(chain.contains("truncated"), s"unexpected failure: $chain")
  }

  test("httpDateMillis: IMF-fixdate parses exactly; obsolete RFC 850 / asctime forms null") {
    val s = spark
    import s.implicits._
    val got = Seq(
      "Sun, 06 Nov 1994 08:49:37 GMT",     // RFC 7231 IMF-fixdate
      "Sat, 01 Jun 2024 12:00:00 GMT",
      " Sat, 01 Jun 2024 12:00:00 GMT ",   // OWS-trimmed
      "Sunday, 06-Nov-94 08:49:37 GMT",    // obsolete RFC 850 -> null
      "Sun Nov  6 08:49:37 1994",          // obsolete asctime -> null
      "Sat, 01 Jun 2024 12:00:00 +0000",   // non-GMT zone text -> null
      "Sat, 99 Jun 2024 12:00:00 GMT",     // shape ok, invalid date -> null
      ""                                    // absent -> null
    ).toDF("v")
      .select(Warc.httpDateMillis(col("v")))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(got === Seq(784111777000L, 1717243200000L, 1717243200000L,
      -1L, -1L, -1L, -1L, -1L))
  }

  test("freshnessDue: RFC 9111 precedence — no-store, then max-age (shadowing Expires), then Expires") {
    val s = spark
    import s.implicits._
    val t = 1000000L
    val exp = 9999999L
    val got = Seq(
      ("public, max-age=60", Some(exp)),   // max-age MUST shadow Expires
      ("max-age=\"60\"", None: Option[Long]), // quoted argument form
      ("no-store, max-age=60", Some(exp)), // no-store wins: stale at fetch
      ("private", Some(exp)),              // no directive -> Expires
      ("private", None: Option[Long]),     // nothing -> null
      ("s-maxage=60", None: Option[Long])  // shared-cache directive ignored
    ).toDF("cc", "expms")
      .select(Warc.freshnessDue(lit(t), col("cc"), col("expms")).as("f"))
      .collect().map(r => if (r.isNullAt(0)) null
        else (r.getStruct(0).getLong(0), r.getStruct(0).getString(1)))
    assert(got(0) === ((t + 60000L, "max-age")))
    assert(got(1) === ((t + 60000L, "max-age")))
    // basis reports the ACTUAL matched directive (no-store here)
    assert(got(2) === ((t, "no-store")))
    assert(got(3) === ((exp, "expires")))
    assert(got(4) === null)
    assert(got(5) === null)
  }

  test("freshnessDue: §4.2.2 heuristic — 10% of age when validators exist but no explicit freshness") {
    val s = spark
    import s.implicits._
    val t = 2000000L
    val got = Seq(
      // lastmod 1,000,000 ms ago -> lifetime 100,000 ms
      ("private", None: Option[Long], Some(1000000L)),
      // explicit max-age shadows the heuristic
      ("max-age=60", None: Option[Long], Some(1000000L)),
      // no-cache label stays the matched directive
      ("no-cache", None: Option[Long], Some(1000000L)),
      // FUTURE Last-Modified: heuristic undefined -> null
      ("private", None: Option[Long], Some(t + 1L)),
      // age 0 -> due = fetch (stale now)
      ("", None: Option[Long], Some(t)),
      // no validator, nothing else -> null
      ("private", None: Option[Long], None: Option[Long])
    ).toDF("cc", "expms", "lm")
      .select(Warc.freshnessDue(lit(t), col("cc"), col("expms"),
        col("lm")).as("f"))
      .collect().map(r => if (r.isNullAt(0)) null
        else (r.getStruct(0).getLong(0), r.getStruct(0).getString(1)))
    assert(got(0) === ((t + 100000L, "heuristic")))
    assert(got(1) === ((t + 60000L, "max-age")))
    assert(got(2) === ((t, "no-cache")))
    assert(got(3) === null)
    assert(got(4) === ((t, "heuristic")))
    assert(got(5) === null)
  }

  test("freshnessDue: Age header, max-age saturation, heuristic 24h cap (RFC 9111 §4.2.2–3)") {
    val s = spark
    import s.implicits._
    val t = 10000000000000L
    val day = 86400000L
    val horizon = 999999999999999L * 1000
    val got = Seq(
      // current_age starts at Age: due = t + 86400s − 86000s
      ("max-age=86400", None: Option[Long], None: Option[Long], Some("86000")),
      // zero-padded Age is seconds, not saturation
      ("max-age=86400", None: Option[Long], None: Option[Long],
        Some("0000000000000012")),
      // stale-at-arrival: due lands BEFORE the fetch, arithmetic exact
      ("max-age=60", None: Option[Long], None: Option[Long], Some("120")),
      // invalid Age → 0 (tolerant reader)
      ("max-age=60", None: Option[Long], None: Option[Long], Some("soon")),
      // Expires is ABSOLUTE: Age does not shift it
      ("private", Some(123456789L), None: Option[Long], Some("3600")),
      // 17-digit max-age SATURATES (never truncates to 15 digits)
      ("max-age=99999999999999999", None: Option[Long],
        None: Option[Long], None: Option[String]),
      // zero-padded max-age strips to its value
      ("max-age=0000000000000060", None: Option[Long],
        None: Option[Long], None: Option[String]),
      // heuristic lifetime caps at 24h (lastmod 20 days back → 48h
      // uncapped), and Age still subtracts
      ("private", None: Option[Long], Some(t - 20 * day), Some("3600"))
    ).toDF("cc", "expms", "lm", "age")
      .select(Warc.freshnessDue(lit(t), col("cc"), col("expms"),
        col("lm"), col("age")).as("f"))
      .collect().map(r => if (r.isNullAt(0)) null
        else (r.getStruct(0).getLong(0), r.getStruct(0).getString(1)))
    assert(got(0) === ((t + 400000L, "max-age")))
    assert(got(1) === ((t + 86388000L, "max-age")))
    assert(got(2) === ((t - 60000L, "max-age")))
    assert(got(3) === ((t + 60000L, "max-age")))
    assert(got(4) === ((123456789L, "expires")))
    assert(got(5) === ((t + horizon, "max-age")))
    assert(got(6) === ((t + 60000L, "max-age")))
    assert(got(7) === ((t + day - 3600000L, "heuristic")))
  }
}
