package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale soak harness (dev-only, not a driver contract): replicates the
  * sf0.1 documents/embeddings tables K× with per-replica mutations and
  * runs the flagship dedup operators against the scaled corpora, so
  * wall-time SCALING EXPONENTS and per-stage TASK SKEW are measured, not
  * argued. Mutations keep the dedup problem honest at scale:
  *
  *   - half of each replica's docs get a replica-tagged token appended
  *     (near-dups of the base doc — LSH/prefix-join candidate load grows
  *     superlinearly with K, the worst realistic case);
  *   - the other half are left byte-identical (exact-dup mass → the
  *     hot-bucket caps and connected components see real cluster growth);
  *   - embeddings get a deterministic per-(id, replica, dim) ±1e-3
  *     jitter, keeping cosine near-dup structure across replicas.
  *
  * Usage: runMain graft.Soak [baseSfDir] [outJson]. Writes scaled tables
  * under /tmp/graft_soak/x{K}/ and prints one JSON line per (scale,
  * query): seconds, output rows, and the worst stage's max/median task
  * time ratio (straggler factor, from [[QueryMetrics]]).
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "/tmp/graft_soak/soak.json"
    val spark = GraftSession.builder("graft-soak", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new QueryMetrics(spark)

    def scaledDir(k: Int): String = s"/tmp/graft_soak/x$k"

    /** Replicate K× with the mutation mix documented above. */
    def materialize(k: Int): Unit = {
      val dir = scaledDir(k)
      // keyed on the LAST table written, so a dir materialized by an
      // older Soak (before the incstore existed) is refreshed
      if (new java.io.File(s"$dir/incstore/sigs").exists()) return
      val reps = spark.range(k).select(col("id").as("__rep"))
      Tables.documents(spark, baseDir).crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("__rep") * 10000000L).as("doc_id"),
          when(col("__rep") === 0 || pmod(col("doc_id"), lit(2)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" soakrep"), col("__rep")))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables.embeddings(spark, baseDir).crossJoin(broadcast(reps))
        .select(
          (col("vec_id") + col("__rep") * 10000000L).as("vec_id"),
          when(col("__rep") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + (pmod(xxhash64(col("vec_id"), col("__rep"), i), lit(2001)) - 1000)
                .cast("float") / 1000000.0f).cast("float"))).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // graph: the q116 customer↔supplier bipartite edges, replicated
      // with per-replica node-id offsets EXCEPT that ~1/8 of each
      // replica's dst nodes keep their base id — global hubs whose
      // in-degree grows linearly with K, so the scaled graph develops
      // the power-law skew real graphs have instead of K disjoint
      // copies with constant degrees.
      val baseEdges = Tables.orders(spark, baseDir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, baseDir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      baseEdges.crossJoin(broadcast(reps))
        .select(
          (col("src") + col("__rep") * 10000000L).as("src"),
          when(pmod(xxhash64(col("dst"), col("__rep")), lit(8)) === 0, col("dst"))
            .otherwise(col("dst") + col("__rep") * 10000000L).as("dst"))
        .distinct()
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/edges.parquet")
      // incremental-dedup store (the q206 trigger shape at scale):
      // 2/3 of the scaled corpus is "yesterday's" store — docs plus
      // their banded signatures, persisted exactly as a production
      // store would be so the trigger path reads signatures instead
      // of re-shingling the store
      val storeDocs = spark.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(3)) =!= 0)
      storeDocs.write.mode("overwrite").parquet(s"$dir/incstore/docs")
      operators.Dedup.bandedSignatures(
          spark.read.parquet(s"$dir/incstore/docs"), "doc_id", col("text"))
        .write.mode("overwrite").parquet(s"$dir/incstore/sigs")
      operators.CacheRegistry.releaseAll()
    }

    // the q263/q265 fetch-result fixture at soak scale (997 hosts):
    // the %11 residue walk — absolute chains, a never-fetched landing,
    // a self-loop, and the three relative Location forms (same-host
    // offsets are multiples of 997 where the landing must be a
    // fetched URL)
    def soakRedirectResp(d: String): DataFrame =
      queries.WebGraphQueries.redirectFixture(spark, d, hosts = 997)

    // the alias_merge family's shared prelude: the redirect chains of
    // soakRedirectResp and the merged frontier (every fetched URL
    // discovered; even docs respelled as seeds with tracking params)
    def soakAliasMerge(d: String): (DataFrame, DataFrame) = {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val did = col("doc_id")
      val resp = soakRedirectResp(d)
      val chains = operators.WebGraph.redirectChains(resp, "url",
        col("status"), col("location"), maxHops = 4)
      val seeds = docs.filter(pmod(did, lit(2)) === 0)
        .select(concat(lit("http://H"),
            pmod(did, lit(997)).cast("string"),
            lit(".EXAMPLE.ORG/r/doc"), did.cast("string"),
            lit("?utm_source=x")).as("loc"),
          when(pmod(did, lit(3)) === 0,
            (pmod(did, lit(10)) * 100).cast("long")).as("pm"))
      val merged = operators.Frontier.mergeSeeds(
        resp.select(col("url")), col("url"), seeds, col("loc"), col("pm"))
      (merged, chains)
    }

    val shapes: Seq[(String, String => DataFrame)] = Seq(
      "minhash_lsh_pairs" -> { d: String =>
        operators.Dedup.minhashLshPairs(Tables.documents(spark, d),
          "doc_id", col("text"), minJaccardPpm = 500000L)
      },
      "jaccard_prefix_join" -> { d: String =>
        operators.Dedup.jaccardPrefixJoin(Tables.documents(spark, d),
          "doc_id", col("text"), n = 3, minJaccardPpm = 300000L)
      },
      "semantic_dedup" -> { d: String =>
        operators.Similarity.semanticDedup(Tables.embeddings(spark, d),
          "vec_id", "embedding", minCosinePpm = 350000L)
      },
      "dup_clusters_cc" -> { d: String =>
        val pairs = operators.Similarity.cosineNearDupPairs(
          Tables.embeddings(spark, d), "vec_id", "embedding",
          minCosinePpm = 350000L)
        operators.Dedup.connectedComponents(pairs)
      },
      // ---- graph + ANN paths (the r7 verdict's remaining unmeasured
      // scale shapes: iterative shuffle loops and index serving)
      "pagerank" -> { d: String =>
        operators.Graphs.pageRankMicro(
          spark.read.parquet(s"$d/edges.parquet"))
      },
      "ivf_topk" -> { d: String =>
        operators.Similarity.ivfTopK(Tables.embeddings(spark, d),
          "vec_id", "embedding", k = 3)
      },
      "ivf_stored_serving" -> { d: String =>
        // the q186 shape: build index → parquet store → serve from it
        val e = Tables.embeddings(spark, d)
        val (cents, assigns) = operators.Similarity.ivfIndex(e, "vec_id", "embedding")
        cents.write.mode("overwrite").parquet(s"$d/ivf_store/centroids")
        assigns.write.mode("overwrite").parquet(s"$d/ivf_store/assignments")
        operators.Similarity.ivfTopKStored(e, "vec_id", "embedding",
          e, "vec_id", "embedding",
          spark.read.parquet(s"$d/ivf_store/centroids"),
          spark.read.parquet(s"$d/ivf_store/assignments"), k = 3)
      },
      "ann_recall" -> { d: String =>
        // the q200 shape — includes the exact quadratic baseline by
        // definition of recall evaluation (the declared-baseline cost)
        val e = Tables.embeddings(spark, d)
        operators.Similarity.topKRecall(
          operators.Similarity.lshTopK(e, "vec_id", "embedding", k = 3),
          operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
            e, "vec_id", "embedding", k = 3))
      },
      // ---- r8 newcomers (r8 verdict #5: no scale datapoints yet)
      "dsir_weights" -> { d: String =>
        // raw = the scaled corpus, target = its wiki-like slice (the
        // q209 shape: two raw passes + target pass, λ broadcast)
        val docs = spark.read.parquet(s"$d/documents.parquet")
        operators.Sampling.dsirWeights(docs,
          docs.filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id",
          col("text"), dims = 1024)
      },
      "c4_rules" -> { d: String =>
        // one codegen'd line-filter chain per doc — the zero-shuffle
        // battery; measured to confirm the flat per-row cost
        spark.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"),
            graft.functions.TextFunctions.c4Rules(col("text")).as("c4"))
          .select(col("doc_id"), col("c4.n_kept_lines"), col("c4.passes"))
      },
      "incremental_dedup_trigger" -> { d: String =>
        // EXACTLY the q206 per-trigger survivor plan (the extracted
        // closure body), with the store pre-materialized: batch = 1/3
        // of the scaled corpus, store = the other 2/3 + signatures.
        // Both batch and store grow with K — the worst case; a real
        // pipeline's per-trigger batch is constant-sized.
        val batch = spark.read.parquet(s"$d/documents.parquet")
          .filter(pmod(col("doc_id"), lit(3)) === 0)
        graft.streaming.EventStreams.incrementalDedupSurvivors(
          batch, Some((spark.read.parquet(s"$d/incstore/docs"),
            spark.read.parquet(s"$d/incstore/sigs"))),
          "doc_id", "text")._1
      },
      // ---- r9 newcomers
      "hits" -> { d: String =>
        // iterative max-normalized fixed point on the scaled hub graph
        // (same edges as pagerank — the 1/8 global-hub dst keeps give
        // it real in-degree skew); 4 iterations, 8 localCheckpoints
        operators.Graphs.hitsMicro(spark.read.parquet(s"$d/edges.parquet"))
      },
      "auc_exact" -> { d: String =>
        // distinct-score census + partitioned cumulative window; the
        // %50 quantization keeps the census at the grain, not corpus
        operators.Profiling.aucExact(
          spark.read.parquet(s"$d/documents.parquet")
            .select(col("source"), (length(col("text")) % 50).as("score"),
              when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0).as("label")),
          "label", "score", groupCols = Seq("source"))
      },
      "vocab_growth" -> { d: String =>
        // two-level distributed prefix sum + corpus explode + min agg;
        // the per-doc unique suffix keeps vocabulary growing with K
        val docs = spark.read.parquet(s"$d/documents.parquet")
        operators.Profiling.vocabGrowth(docs, "doc_id",
          concat(col("text"), lit(" u"), col("doc_id").cast("string")),
          bucketTokens = 10000L)
      },
      "kmv_sketch" -> { d: String =>
        // distinct census + per-group bottom-k window; the key domain
        // grows with the corpus (token#doc-residue)
        val docs = spark.read.parquet(s"$d/documents.parquet")
        operators.Sketches.kmvSketch(
          docs.select(col("source"), col("doc_id"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
            .select(col("source"),
              concat(col("t"), lit("#"),
                pmod(col("doc_id"), lit(997)).cast("string")).as("key")),
          "source", col("key"), k = 256)
      },
      "token_entropy" -> { d: String =>
        // census shuffle + ~100-step codegen'd log chain per distinct
        // token + per-group aggregate
        val docs = spark.read.parquet(s"$d/documents.parquet")
        operators.Profiling.entropyBits(
          docs.select(col("source"),
            explode(graft.functions.TextFunctions.tokens(col("text"))).as("t")),
          "source", col("t"))
      },
      "domain_blocklist" -> { d: String =>
        // suffix-chain explode equi-join — the linear scan class with a
        // bounded row multiplier
        import spark.implicits._
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val urls = docs.select(col("doc_id"),
          concat(lit("http://h"), pmod(col("doc_id"), lit(1000)),
            lit("."), col("source"), lit(".example.com/p/"), col("doc_id")).as("url"))
        val bl = (0 until 200).map(i => s"src${i % 20}.example.com").distinct
          .toDF("domain")
        graft.functions.TextFunctions.domainBlocklist(urls, "doc_id", col("url"), bl)
      },
      // ---- r10 newcomers
      "matched_spans" -> { d: String =>
        // the r9 verdict's #1 ask: exact substring matching is the
        // operator family most prone to quadratic blowup on
        // boilerplate-heavy corpora, and the soak corpus IS one by
        // construction — every base doc's token prefix is shared
        // verbatim by all K replicas (byte-identical even docs,
        // suffix-mutated odd docs), so candidate pairs grow C(K,2)
        // per base doc: OUTPUT-quadratic in K by design. The honest
        // scale question is whether wall-time tracks the pair count
        // (output-bound) or worse (stage-bound); T-exp is read
        // against rows, not corpus size.
        operators.Dedup.matchedSpans(
          spark.read.parquet(s"$d/documents.parquet"), "doc_id", col("text"))
      },
      "wat_outlinks" -> { d: String =>
        // WAT extraction + host census (q244/q245 shape at scale):
        // one narrow regex pass per page, one aggregate shuffle; the
        // host space grows with the corpus (doc-keyed host residue)
        val docs = spark.read.parquet(s"$d/documents.parquet")
        def h(n: org.apache.spark.sql.Column) =
          concat(lit("h"), n.cast("string"), lit(".example.org"))
        val did = col("doc_id")
        val ds = did.cast("string")
        val pages = docs.select(did,
          concat(lit("http://"), h(pmod(did, lit(997))), lit("/p/"), ds).as("uri"),
          concat(
            lit("<html><body><p>"), col("text"), lit("</p>"),
            lit("<a href=\"http://"), h(pmod(did * 7 + 3, lit(997))),
            lit("/x/"), ds, lit("\">a</a>"),
            lit("<a href=\"/p/"), (did + 1).cast("string"), lit("\">b</a>"),
            lit("<a href=\"//"), h(pmod(did * 5 + 1, lit(997))),
            lit("/y/"), ds, lit("\">c</a>"),
            lit("<a href='r/"), ds, lit("'>d</a>"),
            lit("<a href=\"#s\">e</a><a href=\"mailto:x@y.z\">f</a>"),
            lit("</body></html>")).as("html"))
        operators.WebGraph.hostEdges(
          operators.WebGraph.outlinks(pages, "doc_id", col("uri"), col("html")),
          col("src_host"), col("dst_host"))
      },
      "robots_eval" -> { d: String =>
        // q250 shape at scale: the robots table is a 997-host
        // broadcast dimension; every URL joins it and takes one
        // URL-keyed winner window (≤ rules-per-host rows per URL) —
        // expected linear in the URL count
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val k = pmod(col("doc_id"), lit(997))
        val urls = docs.select(col("doc_id"),
          concat(lit("http://h"), k.cast("string"), lit(".example.org"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit("/private"), k.cast("string"), lit("/doc")))
              .when(pmod(col("doc_id"), lit(3)) === 1,
                concat(lit("/private"), k.cast("string"), lit("/ok/doc")))
              .otherwise(lit("/clean/doc")),
            col("doc_id").cast("string")).as("url"))
        val nl = lit("\n")
        val robots = spark.range(997).select(
          concat(lit("h"), col("id").cast("string"), lit(".example.org"))
            .as("host"),
          concat(lit("User-agent: graftbot"), nl,
            lit("Disallow: /private"), col("id").cast("string"), lit("/"), nl,
            lit("Allow: /private"), col("id").cast("string"), lit("/ok/"), nl,
            lit("Disallow: /*.tmp$"), nl,
            lit("User-agent: *"), nl, lit("Disallow: /all/"), nl).as("body"))
        operators.Robots.allowed(urls, "doc_id", col("url"),
          robots, "host", col("body"))
      },
      "crawl_politeness" -> { d: String =>
        // q251's composition at scale, minus the WARC cycle (WARC I/O
        // cost is the warc_* shapes' job): robots verdict (997-host
        // broadcast dim + URL-keyed winner window) + noindex regex +
        // markup strip + token gate + exact-dedup census over only
        // the indexable docs. Expected scan-bound: two narrow regex
        // passes, one md5 census shuffle, one census join.
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val k = pmod(did, lit(997))
        val pages = docs.select(did,
          concat(lit("http://h"), k.cast("string"), lit(".example.org"),
            when(pmod(did, lit(3)) === 0,
              concat(lit("/private"), k.cast("string"), lit("/doc")))
              .otherwise(lit("/doc")), did.cast("string")).as("url"),
          concat(lit("<html><head>"),
            when(pmod(did, lit(5)) === 0,
              lit("<meta content=\"noindex\" name=\"robots\">"))
              .otherwise(lit("")),
            lit("</head><body><p>"), col("text"),
            lit("</p><script>var x = 1;</script></body></html>")).as("raw"))
        val pagesP = operators.CacheRegistry.persist(pages)
        val nl = lit("\n")
        val robots = spark.range(997).select(
          concat(lit("h"), col("id").cast("string"), lit(".example.org"))
            .as("host"),
          concat(lit("User-agent: graftbot"), nl,
            lit("Disallow: /private"), col("id").cast("string"), lit("/"), nl,
            lit("User-agent: *"), nl, lit("Disallow: /all/"), nl).as("body"))
        val verd = operators.Robots.allowed(
          pagesP.select("doc_id", "url"), "doc_id", col("url"),
          robots, "host", col("body"))
          .select(col("doc_id"), col("allowed"))
        val scored = pagesP.select(did,
          operators.WebGraph.pageMeta(col("url"), col("raw"))
            .getField("noindex").as("noindex"),
          graft.functions.TextFunctions.stripMarkup(col("raw")).as("clean"))
          .withColumn("n_tokens",
            graft.functions.TextFunctions.tokenCount(col("clean")))
        val joined = scored.join(verd, Seq("doc_id"))
          .withColumn("indexable", col("allowed") && !col("noindex"))
        val census = joined.filter(col("indexable"))
          .groupBy(md5(col("clean")).as("__dig"))
          .agg(min("doc_id").as("__keep"))
        joined.join(census,
            md5(col("clean")) === col("__dig") && col("indexable"),
            "left_outer")
          .select(did, col("allowed"), col("noindex"), col("n_tokens"),
            when(col("indexable"), did === col("__keep") &&
              col("n_tokens") >= 30).otherwise(lit(false)).as("kept"))
      },
      // ---- r12 newcomers (the round's new frontier/stream operators
      // need their own scale datapoints, like every newcomer family)
      "frontier_seed_merge" -> { d: String =>
        // q255's composition at scale: discovered URLs over 997 hosts
        // canonically merged with a same-size seed set (even ids:
        // uppercase-host + tracking-param respellings of discovered
        // URLs — the dedup path; odd ids: new /seed/ URLs) and
        // priority-scheduled per host against a broadcast delay dim.
        // Expected: two canon hash-agg shuffles, one co-partitioned
        // full-outer join, one window shuffle — all on the URL grain.
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val k = pmod(did, lit(997)).cast("string")
        val disc = docs.select(did,
          concat(lit("http://h"), k, lit(".example.org/doc"),
            did.cast("string")).as("url"))
        val seeds = docs.select(
          when(pmod(did, lit(2)) === 0,
            concat(lit("http://H"), k, lit(".EXAMPLE.ORG/doc"),
              did.cast("string"), lit("?utm_source=sm")))
            .otherwise(concat(lit("http://h"), k, lit(".example.org/seed"),
              did.cast("string"))).as("loc"),
          when(pmod(did, lit(3)) === 0,
            (pmod(did, lit(10)) * 100).cast("long")).as("priority_milli"))
        val merged = operators.Frontier.mergeSeeds(
          disc, col("url"), seeds, col("loc"), col("priority_milli"))
        val delays = spark.range(997)
          .filter(pmod(col("id"), lit(2)) === 0)
          .select(concat(lit("h"), col("id").cast("string"),
              lit(".example.org")).as("host"),
            (pmod(col("id"), lit(5)) * 500 + 500).cast("long")
              .as("crawl_delay_ms"))
        operators.Frontier.fetchSchedule(merged, "canon", col("url"),
          delays, t0Ms = 1704067200000L, maxPerHost = Int.MaxValue,
          priorityCol = Some("priority_milli"))
      },
      "politeness_gate_stream" -> { d: String =>
        // q257's stateful rate gate at scale: the scaled corpus becomes
        // a 3-trigger request stream against the 997-host broadcast
        // delay dim; per-host timetable state carries across triggers.
        // The timed region includes the driver-side MemoryStream feed
        // (the harness, like warc_stream_ingest's export) — the gate's
        // own cost is the broadcast join + 997-key state fold.
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val reqs = docs.select(did.as("req_id"),
          timestamp_seconds(pmod(did, lit(86400L))).as("ts"),
          concat(lit("http://h"), pmod(did, lit(997)).cast("string"),
            lit(".example.org/e/"), did.cast("string")).as("url"))
        val batches = (0L until 3L).map(b =>
          reqs.filter(pmod(col("req_id"), lit(3)) === b)
            .as[graft.streaming.EventStreams.FetchRequest].collect().toSeq)
        val delays = spark.range(997)
          .filter(pmod(col("id"), lit(2)) === 0)
          .select(concat(lit("h"), col("id").cast("string"),
              lit(".example.org")).as("host"),
            (pmod(col("id"), lit(5)) * 500 + 500).cast("long")
              .as("crawl_delay_ms"))
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[graft.streaming.EventStreams.FetchRequest]
        val q = graft.streaming.EventStreams.politenessGate(
            input.toDS(), delays, t0Ms = 1704067200000L)
          .toDF().writeStream.format("memory")
          .queryName("soak_politeness_gate").outputMode("append").start()
        try batches.foreach { b => input.addData(b); q.processAllAvailable() }
        finally q.stop()
        spark.table("soak_politeness_gate")
      },
      "warc_stream_ingest" -> { d: String =>
        // q229's LIVE two-wave streaming ingest at scale: wave A (12
        // shard files) is the initial batch, wave B (4 files, names
        // sorting after — the monotone contract) the incremental
        // trigger; confirms planInputPartitions stays a listing
        // filter as the directory grows. Returned frame = per-batch
        // record counts (the streaming work happens HERE, inside the
        // timed region).
        import spark.implicits._
        val docs = spark.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"),
            concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
            timestamp_seconds(pmod(col("doc_id"), lit(86400L))).as("ts"),
            col("text"))
        // per-SCALE dir (Scratch.dir is per-JVM): reusing one dir across
        // scales leaves the previous scale's files committed under the
        // name watermark, so wave B's overwritten names would be below
        // it and never picked up — 1 batch instead of 2
        val dir = operators.Scratch.dir(
          s"graft_soak_wstream_${new java.io.File(d).getName}")
        Option(new java.io.File(dir).listFiles())
          .foreach(_.foreach(f => if (f.getName.endsWith(".warc.gz")) f.delete()))
        def wave(parity: Int, base: Int, shards: Int): Unit =
          graft.sources.Warc.export(
            docs.filter(pmod(col("doc_id"), lit(2)) === parity)
              .select("doc_id", "uri", "ts", "text"),
            "doc_id", "uri", "ts", "text", dir, numShards = shards,
            compress = true, infoDateSecs = 0L,
            shardCol = Some(pmod(col("doc_id"), lit(shards)) + lit(base)))
        wave(0, 0, 12)
        val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val q = spark.readStream.format("warc").load(dir)
          .filter(col("warc_type") === "response")
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              val n = b.count()
              batches.synchronized { batches += ((id, n)) }
              ()
          }.start()
        try { q.processAllAvailable(); wave(1, 12, 4); q.processAllAvailable() }
        finally q.stop()
        batches.synchronized { batches.toList }.toDF("batch", "n_records")
      },
      "sitemap_expand" -> { d: String =>
        // q259's composition at scale: a 997-host fetched-sitemap
        // corpus — per host one root index referencing 4 part urlsets
        // plus a missing child — expanded against itself. Expected:
        // one regex-parse pass (persisted once), two BROADCAST joins
        // on the file-count-sized dimensions; the url-entry stream
        // (one entry per scaled doc) never shuffles.
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val k = pmod(did, lit(997)).cast("string")
        val blk = concat(lit("<url><loc>http://h"), k,
          lit(".example.org/doc"), did.cast("string"), lit("</loc>"),
          when(pmod(did, lit(3)) === 0, concat(lit("<priority>0."),
            pmod(did, lit(10)).cast("string"), lit("</priority>")))
            .otherwise(lit("")),
          lit("</url>"))
        val parts = docs.select(pmod(did, lit(997)).as("__k"),
            pmod(did, lit(4)).as("__p"), blk.as("b"))
          .groupBy("__k", "__p")
          .agg(concat_ws("", collect_list(col("b"))).as("__body"))
          .select(concat(lit("http://h"), col("__k").cast("string"),
              lit(".example.org/sm/part"), col("__p").cast("string"),
              lit(".xml")).as("u"),
            concat(lit("<urlset>"), col("__body"), lit("</urlset>"))
              .as("xml"))
        val ks = col("id").cast("string")
        val roots = spark.range(997).select(
          concat(lit("http://h"), ks,
            lit(".example.org/sitemap.xml")).as("u"),
          concat(lit("<sitemapindex>"),
            concat_ws("", transform(sequence(lit(0), lit(3)), p =>
              concat(lit("<sitemap><loc>http://h"), ks,
                lit(".example.org/sm/part"), p.cast("string"),
                lit(".xml</loc></sitemap>")))),
            lit("<sitemap><loc>http://h"), ks,
            lit(".example.org/sm/missing.xml</loc></sitemap>" +
              "</sitemapindex>")).as("xml"))
        operators.Sitemaps.expand(roots.unionByName(parts), "u", col("xml"))
      },
      "redirect_chains" -> { d: String =>
        // q263's shape at scale: the %11 residue walk plants 3-hop
        // chains, suffixes, danglers, self-loops AND the r13 relative
        // Location forms (root-/protocol-/path-relative — every 3xx
        // row now routes through the resolve expression chain) over
        // the scaled corpus (one fetch row per doc, 997 hosts).
        // Expected: one aggregate for the min-RESOLVED-target
        // collapse, then four joins plus the settle probe against the
        // 3xx-subset dimension — corpus-grain, no window.
        operators.WebGraph.redirectChains(soakRedirectResp(d), "url",
          col("status"), col("location"), maxHops = 4)
      },
      "alias_merge" -> { d: String =>
        // q265's shape at scale: the redirect chains feed
        // Frontier.resolveAliases over a same-grain merged frontier
        // (every fetched URL discovered; even docs respelled as seeds
        // with tracking params). Expected on top of the chain shape:
        // the mergeSeeds full-outer on canon, ONE canon-keyed chain
        // join, and ONE hash aggregate on the landing key — all
        // partial-aggregate friendly, no window; alias-group fan-in
        // is bounded by the chain depth, never corpus-sized.
        val (merged, chains) = soakAliasMerge(d)
        operators.Frontier.resolveAliases(merged, chains)
      },
      "permanent_alias_merge" -> { d: String =>
        // q272's shape at scale: alias_merge with the PERMANENT
        // collapse (perm_url identity) plus the fetch-routing join.
        // Expected on top of alias_merge: the perm tracking rides the
        // same chain joins (two extra state columns, no new shuffle)
        // and routing adds ONE canon-keyed equi-join against the
        // fetch-grain chain dimension — same class as the chain map.
        val (merged, chains) = soakAliasMerge(d)
        operators.Frontier.resolveAliasesPermanent(merged, chains)
      },
      "canonical_merge" -> { d: String =>
        // q271's shape at scale: alias_merge PLUS the content-level
        // canonical fold — hints mined from real HTML through
        // pageMetaFrame (the materialized extraction projections) and
        // folded by conditional aggregation (never a pre-aggregate
        // filter: predicate pushdown would re-inline the extraction
        // tree, the r14 q271 finding). Expected on top of alias_merge:
        // ONE more canon-keyed equi-join against a fetch-grain hint
        // dimension and the hint hash aggregate — no window.
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val (merged, chains) = soakAliasMerge(d)
        val cpages = docs.filter(pmod(did, lit(11)) === 4)
          .select(
            concat(lit("http://h"), pmod(did, lit(997)).cast("string"),
              lit(".example.org/r/doc"), did.cast("string")).as("curl"),
            concat(lit("<html><head>"),
              when(pmod(did, lit(22)) === 4,
                concat(lit("<link rel=\"canonical\" href=\"/r/doc"),
                  (did + 11).cast("string"), lit("\">")))
                .when(pmod(did, lit(22)) === 15,
                  concat(lit("<link rel='canonical' href='http://h"),
                    pmod(did + 2, lit(997)).cast("string"),
                    lit(".example.org/r/doc"), did.cast("string"),
                    lit("'>")))
                .otherwise(lit("")),
              lit("</head><body><p>x</p></body></html>")).as("html"))
        val hints = operators.WebGraph.pageMetaFrame(cpages, col("curl"),
            col("html"), out = "m")
          .select(col("curl"), col("m.canonical_url").as("canu"))
        operators.Frontier.resolveAliases(merged, chains, hints,
          col("curl"), col("canu"))
      },
      "unified_schedule" -> { d: String =>
        // q267's five-product composition at scale — the suite's
        // heaviest gate and (r14 verdict) the one headline shape
        // without a soak row: WAT host mining → 4-iteration PageRank
        // on the 997-host graph → largest-remainder budget → crawl-
        // delay dimension → priority+due recurrence windows under
        // rank caps. Expected: the mining pass is corpus-grain (one
        // regex funnel + one distinct-edge shuffle), everything from
        // rank to allocation is host-grain (997 rows, pinned once —
        // the q262 discipline), and the schedule is two host-
        // partitioned windows over the URL grain (≈ corpus/997 rows
        // per partition — bounded at every scale).
        val docs = spark.read.parquet(s"$d/documents.parquet")
        val did = col("doc_id")
        val ds = did.cast("string")
        def hh(n: Column) =
          concat(lit("h"), n.cast("string"), lit(".example.org"))
        val pages = docs.select(did,
          concat(lit("http://"), hh(pmod(did, lit(997))), lit("/p/"), ds)
            .as("uri"),
          concat(lit("<html><body><p>"), col("text"), lit("</p>"),
            lit("<a href=\"http://"), hh(pmod(did * 7 + 3, lit(997))),
            lit("/x/"), ds, lit("\">a</a>"),
            lit("<a href=\"//"), hh(pmod(did * 5 + 1, lit(997))),
            lit("/y/"), ds, lit("\">c</a>"),
            lit("</body></html>")).as("html"))
        val edges = operators.WebGraph.outlinks(pages, "doc_id",
            col("uri"), col("html"))
          .filter(col("src_host") =!= col("dst_host") && !col("nofollow"))
          .select(
            regexp_extract(col("src_host"), "^h(\\d+)", 1).cast("long")
              .as("src"),
            regexp_extract(col("dst_host"), "^h(\\d+)", 1).cast("long")
              .as("dst"))
          .distinct()
        val ranks = operators.Graphs.pageRankMicro(edges, iterations = 4)
          .select(hh(col("node")).as("host"), col("rank_micro"))
        // the allocation feeds BOTH the schedule caps and the final
        // slots/rank join: pin the host-count-sized frame so the
        // mining + rank funnel runs once (the q262/q267 discipline)
        val alloc = operators.CacheRegistry.persist(
          operators.Frontier.allocateBudget(ranks, "host",
              col("rank_micro"), budget = 200L))
        val delays = spark.range(997)
          .filter(pmod(col("id"), lit(2)) === 0)
          .select(hh(col("id")).as("host"),
            (pmod(col("id"), lit(5)) * 500 + 500).cast("long")
              .as("crawl_delay_ms"))
        // typed dues straddle t0 = 2024-02-01 exactly like q267:
        // January dues are stale (clamp to t0), March dues defer
        val urls = docs.select(
          concat(lit("http://"), hh(pmod(did, lit(997))), lit("/r/"), ds)
            .as("loc"),
          when(pmod(did, lit(4)) === 0,
            lit(1704067200000L) + pmod(did, lit(28)) * 86400000L)
            .when(pmod(did, lit(4)) === 1,
              lit(1709251200000L) + pmod(did, lit(28)) * 86400000L)
            .as("due_at_ms"),
          when(pmod(did, lit(3)) === 0,
            (pmod(did, lit(10)) * 100).cast("long")).as("priority_milli"))
        val sched = operators.Frontier.fetchSchedule(urls, "loc",
          col("loc"), delays, t0Ms = 1706745600000L,
          defaultDelayMs = 1000L, maxPerHost = 20,
          priorityCol = Some("priority_milli"),
          notBeforeCol = Some("due_at_ms"),
          caps = Some(alloc.select(col("host"), col("slots"))))
        sched.join(alloc.select(col("host"), col("slots"),
            col("weight").as("rank_micro")), Seq("host"), "left_outer")
      },
      "warc_roundtrip" -> { d: String =>
        // full WARC sink+source cycle at scale: per-record-gzip export
        // of the scaled corpus (16 shard files — writer parallelism),
        // then the DSv2 read of every response record. Measures both
        // the render/deflate write path and the file-parallel
        // parse/inflate read path; shard files are overwritten across
        // scales (same 16 names), so the dir never accumulates.
        val docs = spark.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"),
            concat(lit("http://corpus.example/doc/"), col("doc_id")).as("uri"),
            timestamp_seconds(pmod(col("doc_id"), lit(86400L))).as("ts"),
            col("text"))
        val dir = operators.Scratch.dir("graft_soak_warc")
        graft.sources.Warc.export(docs, "doc_id", "uri", "ts", "text", dir,
          numShards = 16)
        spark.read.format("warc").load(dir)
          .filter(col("warc_type") === "response")
      })

    val scales = sys.env.get("SPARK_GRAFT_SOAK_SCALES")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
    // SPARK_GRAFT_SOAK_SHAPES=name,name — restrict (the 30× flagship
    // run exercises two shapes, not the full battery)
    val shapeFilter = sys.env.get("SPARK_GRAFT_SOAK_SHAPES")
      .map(_.split(",").map(_.trim).toSet)
    val picked = shapes.filter { case (n, _) => shapeFilter.forall(_.contains(n)) }
    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    val sb = new StringBuilder
    for (k <- scales) {
      materialize(k)
      for ((name, fn) <- picked) {
        metrics.begin()
        heapPools.foreach(_.resetPeakUsage())
        val t0 = System.nanoTime()
        val n = fn(scaledDir(k)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        operators.CacheRegistry.releaseAll()
        spark.catalog.clearCache()
        val m = metrics.snapshot()
        // single-JVM local mode: driver + executors share this heap,
        // so the pool peak IS the query's memory high-water mark
        val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
        val line = f"""{"scale":$k,"query":"$name","sec":$sec%.2f,"rows":$n,"worst_stage_skew":${m("worst_stage_skew")}%.1f,"max_task_ms":${m("max_task_ms").toLong},"peak_heap_mb":$peakMb}"""
        println(line)
        sb.append(line).append('\n')
      }
    }
    new java.io.File(outPath).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
