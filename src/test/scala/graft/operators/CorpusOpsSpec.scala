package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bigramSurprisal: hand-computed add-one bigram bits") {
    // Corpus: "a b", "a b", "a c" → context counts c1(a)=3, V=1.
    // P(b|a) = (2+1)/(3+1) = 3/4 → −log2 ≈ 0.415 → 0 bits.
    // P(c|a) = (1+1)/(3+1) = 1/2 → −log2 = 1 exactly  → 1 bit.
    val out = LanguageModel.bigramSurprisal(
        docs(1L -> "a b", 2L -> "a b", 3L -> "a c"), "doc_id", col("text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprisal_bits"),
          r.getAs[Long]("avg_millibits")))).toMap
    CacheRegistry.releaseAll()
    assert(out === Map(1L -> ((1L, 0L, 0L)), 2L -> ((1L, 0L, 0L)),
      3L -> ((1L, 1L, 1000L))))

    // Rare vs dominant transition: "p q" + 9 × "p r" → c1(p)=10, V=1.
    // P(q|p) = 2/11 → −log2 ≈ 2.46 → 2 bits; P(r|p) = 10/11 → 0 bits.
    val skew = docs((1L -> "p q") +: (2L to 10L).map(_ -> "p r"): _*)
    val out2 = LanguageModel.bigramSurprisal(skew, "doc_id", col("text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("surprisal_bits"))
      .toMap
    CacheRegistry.releaseAll()
    assert(out2(1L) === 2L)
    assert((2L to 10L).forall(out2(_) === 0L))

    // Sub-2-token docs carry no bigram evidence and are not scored.
    val short = LanguageModel.bigramSurprisal(
      docs(1L -> "only", 2L -> "", 3L -> "x y"), "doc_id", col("text"))
      .collect()
    CacheRegistry.releaseAll()
    assert(short.map(_.getAs[Long]("doc_id")).toSeq === Seq(3L))
  }

  test("removeDuplicateSpans: cuts only duplicated spans, keeps order, empty survivors kept") {
    // docs 1 and 2 share an 8-token run (the duplicated span);
    // doc 3 is fully unique; doc 4 IS the shared run exactly (fully cut)
    val run = (1 to 8).map(i => s"dup$i").mkString(" ")
    val df = docs(
      1L -> s"alpha $run omega",
      2L -> s"start $run finish extra",
      3L -> "totally unique words only here now",
      4L -> run)
    val out = Dedup.removeDuplicateSpans(df, "doc_id", col("text"), k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    CacheRegistry.releaseAll()
    assert(out(1L) === (("alpha omega", 2L)))
    assert(out(2L) === (("start finish extra", 3L)))
    assert(out(3L) === (("totally unique words only here now", 6L)))
    assert(out(4L) === (("", 0L)))
    assert(out.size === 4)
  }

  test("featureHash: bucket counts match a driver-side xxhash64 replay, power-of-two enforced") {
    val df = docs(1L -> "a b a", 2L -> "c")
    val out = Tokenization.featureHash(df, "doc_id", col("text"), dims = 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // replay buckets with Spark's own xxhash64 (seed 42) via a tiny query
    import spark.implicits._
    val bk = Seq("a", "b", "c").toDF("t")
      .select(col("t"), pmod(xxhash64(col("t")), lit(64L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d1 = Seq(bk("a") -> 2L, bk("b") -> 1L).sortBy(_._1)
      .map { case (b, c) => s"$b:$c" }.mkString(" ")
    assert(out(1L) === ((2L, d1)))
    assert(out(2L) === ((1L, s"${bk("c")}:1")))
    intercept[IllegalArgumentException] {
      Tokenization.featureHash(df, "doc_id", col("text"), dims = 48)
    }
  }

  test("pmiCollocations: hand-computed bits, negative PMI excluded, deterministic order") {
    // bigrams: (x,y)×4, (x,z)×1, (w,z)×3 → N=8; c1: x=5, w=3; c2: y=4, z=4.
    // PMI(w,z) = log2(3·8/(3·4)) = 1 exactly → 1 bit.
    // PMI(x,y) = log2(4·8/(5·4)) = log2(1.6) → 0 bits.
    // PMI(x,z) = log2(8/20) < 0 → excluded.
    val df = docs(
      (1L -> "x y") +: (2L -> "x y") +: (3L -> "x y") +: (4L -> "x y") +:
      (5L -> "x z") +: (6L to 8L).map(_ -> "w z"): _*)
    val out = LanguageModel.pmiCollocations(df, col("text"), minPairCount = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    CacheRegistry.releaseAll()
    assert(out.toSeq === Seq(("w", "z", 3L, 1L), ("x", "y", 4L, 0L)))

    // minPairCount prunes the hapax tail before scoring
    val pruned = LanguageModel.pmiCollocations(df, col("text"), minPairCount = 4, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    CacheRegistry.releaseAll()
    assert(pruned.toSeq === Seq(("x", "y")))
  }

  test("exact dedup groups identical texts, keeps min id") {
    val df = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exact(df, "doc_id", col("text")).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("PositionedGramHashes matches the composed slice+concat_ws+xxhash64 form bit-for-bit") {
    val texts = docs(
      1L -> "a b c d e",                       // plain
      2L -> "  a\tb\nc   de  ",          // every \s form + padding
      3L -> "one two",                         // fewer than k tokens
      4L -> "",                                // empty
      5L -> (1 to 30).map(i => s"t$i").mkString("  "))
    val k = 3
    val viaExpr = texts.select(col("doc_id"),
        posexplode(graft.plans.PositionedGramHashes
          .positioned_gram_hashes(col("text"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val viaComposed = texts.select(col("doc_id"), toks.as("a"))
      .withColumn("p", explode(when(size(col("a")) >= k,
        sequence(lit(1), size(col("a")) - (k - 1))).otherwise(array())))
      .select(col("doc_id"), col("p"),
        xxhash64(concat_ws(" ", slice(col("a"), col("p"), lit(k)))).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaExpr === viaComposed)
    assert(viaExpr.count(_._1 == 1L) === 3) // 5 tokens, k=3 → 3 grams
    assert(!viaExpr.exists(t => t._1 == 3L || t._1 == 4L)) // short/empty: none
  }

  test("duplicateSpans handles a book-length document (the linear-gram-hash path)") {
    // 30k tokens with a repeated 8-gram planted at two far-apart
    // offsets — the composed explode-then-slice form would carry
    // ~30k copies of the 30k-token array (≈ 7 GB) through this
    val run = (1 to 8).map(i => s"dup$i").mkString(" ")
    val filler = (1 to 15000).map(i => s"u$i").mkString(" ")
    val filler2 = (1 to 15000).map(i => s"v$i").mkString(" ")
    val df = docs(1L -> s"$run $filler", 2L -> s"$filler2 $run")
    val spans = Dedup.duplicateSpans(df, "doc_id", col("text"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    CacheRegistry.releaseAll()
    assert(spans.toSet === Set((1L, 1L, 8L), (2L, 15001L, 15008L)))
  }

  test("stored-signature incremental LSH matches the recompute path pair-for-pair") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val incoming = docs(
      10L -> base.replace("w7", "changed"),
      11L -> (1 to 40).map(i => s"q$i").mkString(" "))
    val existing = docs(
      1L -> base,
      2L -> (1 to 40).map(i => s"z$i").mkString(" "))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val live = pairs(Dedup.minhashLshPairsAcross(incoming, existing,
      "doc_id", col("text"), minJaccardPpm = 0L))
    CacheRegistry.releaseAll()
    // store signatures (as a real run would: write + read back)
    val sigs = Dedup.bandedSignatures(existing, "doc_id", col("text"))
    sigs.write.mode("overwrite").parquet("/tmp/lsh-sig-store")
    CacheRegistry.releaseAll()
    val stored = pairs(Dedup.minhashLshPairsAcrossStored(incoming, "doc_id",
      col("text"), existing, spark.read.parquet("/tmp/lsh-sig-store"),
      minJaccardPpm = 0L))
    CacheRegistry.releaseAll()
    assert(live === stored)
    assert(stored.nonEmpty && stored.contains((10L, 1L))) // the near-dup links
  }

  test("jaccardPrefixJoin: exact recall vs brute force, threshold respected") {
    // Deterministic corpus: clusters of near-dup docs (high Jaccard),
    // plus unrelated docs — similarities spread across the threshold.
    val rnd = new scala.util.Random(42)
    val base = (1 to 40).map(i => s"tok$i")
    val rows = (0 until 24).map { i =>
      val cluster = i / 4
      // each cluster shares a base vocabulary slice; members differ in
      // a few positions so pair Jaccard lands both above and below 0.3
      val mut = base.map(t =>
        if (rnd.nextInt(10) < (i % 4)) s"c${cluster}_${rnd.nextInt(100)}"
        else s"c${cluster}_$t")
      (i.toLong, mut.mkString(" "))
    }
    val df = docs(rows: _*)
    val t = 300000L
    val got = Dedup.jaccardPrefixJoin(df, "doc_id", col("text"),
        n = 3, minJaccardPpm = t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    CacheRegistry.releaseAll()
    // brute force over ALL pairs with the same exact rational filter
    val want = Dedup.ngramJaccardPairs(df, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .filter { case (_, ppm) => ppm >= t }.toMap
    CacheRegistry.releaseAll()
    // ngramJaccardPairs reports the same rounded ppm; its >= filter on
    // the rounded value can only DISAGREE within half a ppm of t — the
    // synthetic vocab has no pair that close, so exact set equality
    assert(got === want, s"prefix join ${got.size} pairs vs brute ${want.size}")
    assert(got.nonEmpty && got.keys.forall { case (a, b) => a < b })
    assert(got.values.forall(_ >= t))
  }

  test("incremental exact dedup keeps only content absent from the existing corpus") {
    val incoming = docs(10L -> "brand new text", 11L -> "already curated", 12L -> "also new")
    val existing = docs(1L -> "already curated", 2L -> "other old text")
    val kept = Dedup.incrementalExact(incoming, existing, "doc_id", col("text"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(10L, 12L)) // 11 matches existing content -> dropped
  }

  test("cross-corpus LSH pairs link incoming to existing only, never same-side") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    // incoming: near-dup of an existing doc + an unrelated doc +
    //           a near-dup of ANOTHER INCOMING doc (must NOT pair)
    val incoming = docs(
      10L -> base.replace("w7", "changed"),
      11L -> (1 to 40).map(i => s"q$i").mkString(" "),
      12L -> base.replace("w7", "changed").replace("w9", "also"))
    val existing = docs(1L -> base, 2L -> other)
    val pairs = Dedup.minhashLshPairsAcross(incoming, existing, "doc_id", col("text"),
        minJaccardPpm = 500000L)
      .collect().map(r => (r.getAs[Long]("inc_id"), r.getAs[Long]("ex_id")))
    assert(pairs.contains((10L, 1L)))
    assert(pairs.forall { case (i, e) => i >= 10L && e < 10L }) // cross only
    assert(!pairs.exists(p => p._1 == 11L)) // unrelated stays unlinked
  }

  test("minhash LSH finds near-duplicates, not unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w7", "changed")
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashLshPairs(df, "doc_id", col("text"), minJaccardPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("MinHash band-join bucket cap bounds candidates on degenerate boilerplate") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w7", "changed")
    // 300 identical boilerplate docs: one bucket in EVERY band
    val rows = (1L to 300L).map(i => (i, boiler)) ++ Seq((301L, base), (302L, nearDup))
    val df = rows.toDF("doc_id", "text")
    def pairs(cap: Int) =
      Dedup.minhashLshPairs(df, "doc_id", col("text"), minJaccardPpm = 0L, maxBucket = cap)
    assert(pairs(Int.MaxValue).count() >= 300L * 299L / 2,
      "boilerplate cluster should go quadratic uncapped")
    val capped = pairs(50).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((301L, 302L)), "small-bucket near-dup lost to the cap")
    assert(!capped.exists(p => p._1 <= 300L || p._2 <= 300L),
      "over-cap bucket members leaked into candidates")
  }

  test("NFC normalization merges composed/decomposed, preserves compatibility chars") {
    import spark.implicits._
    val composed = "café"
    val decomposed = "café"
    // guard: if an editor/tool ever normalizes this file, the fixture
    // goes meaningless - composed and decomposed must differ
    assert(composed != decomposed && composed.length + 1 == decomposed.length)
    val ligature = "ﬁsh" // NFC must NOT touch ﬁ (that's NFKC)
    val out = Seq((1L, composed), (2L, decomposed), (3L, ligature), (4L, "plain"))
      .toDF("id", "s")
      .select(col("id"), graft.plans.NfcNormalize.nfc_normalize(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === composed)
    assert(out(2L) === composed, "decomposed form did not compose")
    assert(out(3L) === ligature)
    assert(out(4L) === "plain")
  }

  test("chunking: strides overlap and cover every token") {
    val df = docs(1L -> (1 to 150).map(i => s"t$i").mkString(" "), 2L -> "")
    val out = graft.operators.Packing
      .chunkDocuments(df, "doc_id", col("text"), chunkTokens = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(!out.exists(_._1 == 2L)) // empty doc -> no chunks
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 150 tokens, stride 48 -> starts 0, 48, 96, 144
    assert(c1.map(_._3).toSeq === Seq(0L, 48L, 96L, 144L))
    assert(c1.map(_._4).toSeq === Seq(64L, 64L, 54L, 6L)) // tails clip
    // consecutive full chunks overlap by chunk - stride = 16 tokens
    assert(c1(0)._3 + 64 - c1(1)._3 === 16L)
  }

  test("curation pipeline composes: dedup, decontaminate, split") {
    val good = (1 to 80).map(i => s"the w$i of") // long enough, has stopwords
    val df = docs(
      1L -> good.mkString(" "),
      2L -> good.mkString(" "),                       // exact dup of 1 -> dropped
      3L -> good.updated(7, "changed").mkString(" "), // near dup of 1 -> dropped
      4L -> ("the contaminated of " + (1 to 60).map(i => s"b$i").mkString(" ")),
      5L -> "too short",                              // quality floor
      6L -> ("the clean of " + (1 to 60).map(i => s"c$i").mkString(" ")))
    val bench = docs(100L -> "contaminated of b1 b2 b3")
    val kept = CurationPipeline.curate(df, "doc_id", "text", Some(bench))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(kept.keySet === Set(1L, 6L))
    assert(kept.values.forall(s => s == "train" || s == "val"))
    // deterministic: same input, same result
    val again = CurationPipeline.curate(df, "doc_id", "text", Some(bench))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again === kept)
  }

  test("curateAudit partitions the input and agrees with curate") {
    val good = (1 to 80).map(i => s"the w$i of")
    val df = docs(
      1L -> good.mkString(" "),
      2L -> good.mkString(" "),                       // exact dup of 1
      3L -> good.updated(7, "changed").mkString(" "), // near dup of 1
      4L -> ("the contaminated of " + (1 to 60).map(i => s"b$i").mkString(" ")),
      5L -> "too short",                              // quality floor
      6L -> ("the clean of " + (1 to 60).map(i => s"c$i").mkString(" ")))
    val bench = docs(100L -> "contaminated of b1 b2 b3")
    val audit = CurationPipeline.curateAudit(df, "doc_id", "text", Some(bench))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    CacheRegistry.releaseAll()
    // exactly one verdict per input document
    assert(audit.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(audit(2L) === "exact_dup")
    assert(audit(3L) === "near_dup")
    assert(audit(4L) === "contaminated")
    assert(audit(5L) === "quality")
    assert(audit(1L).startsWith("kept_") && audit(6L).startsWith("kept_"))
    // the kept set and splits agree with curate itself
    val kept = CurationPipeline.curate(df, "doc_id", "text", Some(bench))
      .collect().map(r => r.getLong(0) -> s"kept_${r.getString(3)}").toMap
    CacheRegistry.releaseAll()
    assert(audit.filter(_._2.startsWith("kept_")) === kept)
  }

  test("curation pipeline line-level stages clean text before scoring/dedup") {
    val body = "the " + (1 to 60).map(i => s"w$i").mkString(" ") + " of"
    val zBody = "the " + (1 to 60).map(i => s"z$i").mkString(" ") + " of"
    val yBody = "the " + (1 to 60).map(i => s"y$i").mkString(" ") + " of"
    // long enough that raw doc 1 is NOT a near-dup of doc 2 (the
    // boilerplate dilutes Jaccard below the 0.8 threshold); the line
    // stages are what turn them into exact duplicates
    val boiler = "the cookie banner of this site is here and it stays " +
      "on every single page with the same privacy notice and the same " +
      "accept button and the same legal text of the operator"
    // doc 1 differs from doc 2 ONLY by 3x-corpus-wide boilerplate plus
    // an in-document repeat: with both line stages ON it cleans to
    // exactly doc 2's text, so the exact-dedup stage drops doc 2
    // (min-id keeper); with the stages OFF all four raw texts are
    // distinct and every doc survives
    val df = docs(
      1L -> s"$boiler\n$body\n$body",
      2L -> body,
      3L -> s"$boiler\n$zBody",
      4L -> s"$boiler\n$yBody")
    val on = CurationPipeline.curate(df, "doc_id", "text",
        cfg = CurationPipeline.Config(
          intraDocDedup = true, lineDedupMinOccurrences = Some(3L)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(on.keySet === Set(1L, 3L, 4L)) // 2 deduped against cleaned 1
    assert(!on.values.exists(_.contains("cookie banner"))) // boilerplate gone
    assert(on(1L) === body) // in-doc repeat collapsed, order kept
    val off = CurationPipeline.curate(df, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(off === Set(1L, 2L, 3L, 4L)) // raw texts distinct -> all survive
  }

  test("incremental curation drops what the existing corpus already covers") {
    def text(tag: String) = "the " + (1 to 60).map(i => s"$tag$i").mkString(" ") + " of"
    val a = text("w")
    val existing = docs(1L -> a, 2L -> text("z"))
    val incoming = docs(
      10L -> a,                       // exact copy of existing -> dropped
      11L -> a.replace("w7", "near"), // near-dup of existing -> dropped
      12L -> text("c"),               // new -> kept
      13L -> text("c"),               // exact dup WITHIN increment -> dropped (12 kept)
      14L -> text("d"))               // new -> kept
    val out = CurationPipeline.curateIncremental(incoming, existing, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out === Set(12L, 14L))
  }

  test("curation pipeline runs end-to-end on the real documents table") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = CurationPipeline.curate(d, "doc_id", "text")
    val n = out.count()
    assert(n > 0 && n <= d.count())
    // split column fully populated
    assert(out.filter(!col("split").isin("train", "val")).count() === 0)
  }

  test("connected components form duplicate clusters from pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain — needs >1 propagation round),
    // {10,11}, and an isolated pair {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("ngram contamination flags docs overlapping the benchmark set") {
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon", // contains benchmark 3-grams
      2L -> "one two three four five",        // disjoint
      3L -> "beta gamma delta zeta eta")      // partial overlap
    val bench = docs(100L -> "alpha beta gamma delta")
    val out = Dedup.ngramContamination(corpus, "doc_id", col("text"), bench, col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // bench shingles: "alpha beta gamma", "beta gamma delta"
    assert(out(1L)._2 === 2L)
    assert(out(2L)._2 === 0L)
    assert(out(3L)._2 === 1L) // "beta gamma delta"
    assert(out(1L)._1 === 3L) // 5 tokens -> 3 distinct shingles
  }

  test("PII scrub redacts emails and phones, counts match") {
    val df = docs(
      1L -> "contact bob.smith+x@example.co.uk or call +1 555-123-4567 now",
      2L -> "no pii here at all",
      3L -> "two mails: a@b.io c@d.org and digits 12345678")
    val out = df.select(col("doc_id"),
        TextFunctions.emailCount(col("text")).as("ne"),
        TextFunctions.phoneCount(col("text")).as("np"),
        TextFunctions.redactPii(col("text")).as("red"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._1 === 1L)
    assert(out(1L)._2 === 1L)
    assert(out(1L)._3 === "contact <EMAIL> or call <PHONE> now")
    assert(out(2L) === ((0L, 0L, "no pii here at all")))
    assert(out(3L)._1 === 2L)
    assert(out(3L)._2 === 1L) // the 8-digit run
    assert(out(3L)._3 === "two mails: <EMAIL> <EMAIL> and digits <PHONE>")
  }

  test("simhash of near-duplicates has small Hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok33", "other")
    val far = (1 to 60).map(i => s"abc$i").mkString(" ")
    val out = docs(1L -> base, 2L -> near, 3L -> far)
      .select(col("doc_id"), TextFunctions.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).toBigInteger).toMap
    def hamming(a: java.math.BigInteger, b: java.math.BigInteger): Int = a.xor(b).bitCount()
    assert(hamming(out(1L), out(2L)) < 12)
    assert(hamming(out(1L), out(3L)) > 16)
  }

  test("SimHash64 expression is bit-identical to the composed column form") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(150)
    val both = d.select(col("doc_id"),
        TextFunctions.simhash64(col("text")).as("composed"),
        graft.plans.SimHash64.simhash64(col("text")).as("expr"))
      .collect()
    both.foreach { r =>
      assert(r.getDecimal(1) === r.getDecimal(2), s"doc ${r.getLong(0)} differs")
    }
  }

  test("SimHash64 interpreted and codegen paths agree on malformed UTF-8") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // 0xFF can never appear in well-formed UTF-8; a String round-trip
    // would fold it to U+FFFD and change the fingerprint
    val bad = Array[Byte]('a', 0xFF.toByte, 'b', ' ', 0xC3.toByte, ' ', 'c')
    val interp = graft.plans.SimHash64(
        Literal(UTF8String.fromBytes(bad),
          org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.types.Decimal]
    // binary→string cast wraps the raw bytes (no validation), so the
    // codegen'd expression sees the same malformed byte stream
    val viaCodegen = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(bad)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.BinaryType))))
      .select(graft.plans.SimHash64.simhash64(col("b").cast("string")))
      .head().getDecimal(0)
    assert(interp.toJavaBigDecimal === viaCodegen)
  }

  test("LSH ANN candidates agree with brute force where buckets collide") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    val lsh = Similarity.lshTopK(e, "vec_id", "embedding", k = 3)
      .filter(col("query_id") < 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    // every LSH-returned pair must carry the exact brute-force score
    lsh.foreach { case (pair, ppm) =>
      brute.get(pair).foreach(exact => assert(exact === ppm))
    }
    assert(lsh.nonEmpty)
  }

  test("banded LSH candidates contain the single-table candidates (recall never drops)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(bands: Int) = Similarity
      .lshCandidates(e, "vec_id", "embedding", bands, 8, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(1) // band 0 of the 16-plane signature IS the old 8-plane table
    val banded = pairs(2)
    assert(single.subsetOf(banded),
      s"banding lost ${(single -- banded).size} candidate pairs")
    assert(banded.size > single.size, "second band added no candidates on this fixture")
  }

  test("hot-bucket cap keeps banded LSH candidates sub-quadratic on skewed data") {
    import spark.implicits._
    val dim = 8
    val hot = Array.fill(dim)(1.0f)
    val rnd = new scala.util.Random(7)
    def rv() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val warm = rv()
    // 300 identical vectors (one bucket in EVERY band) + 30 scattered + 1 warm pair
    val rows = (1L to 300L).map(i => (i, hot)) ++
      (301L to 330L).map(i => (i, rv())) ++ Seq((331L, warm), (332L, warm))
    val df = rows.toDF("vec_id", "embedding")
    def count(cap: Int) =
      Similarity.lshCandidates(df, "vec_id", "embedding", 2, 6, cap).count()
    val uncapped = count(Int.MaxValue)
    val capped = count(50)
    assert(uncapped >= 300L * 299L, s"hot cluster should go quadratic uncapped: $uncapped")
    // cap drops the degenerate cluster's buckets; what survives is the
    // scattered tail — bounded by (N-300)² ordered pairs, not N²
    assert(capped <= 32L * 31L, s"cap did not bound candidates: $capped")
    val cappedPairs = Similarity.lshCandidates(df, "vec_id", "embedding", 2, 6, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.contains((331L, 332L)), "small-bucket near-dup lost to the cap")
    assert(!cappedPairs.exists(p => p._1 <= 300L || p._2 <= 300L),
      "over-cap bucket members leaked into candidates")
  }

  test("int8 quantization of an all-zero vector yields zeros, not an ANSI cast error") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0f, 0.0f, 0.0f)), (2L, Array(1.0f, -2.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .withColumn("__scale", Similarity.int8Scale(col("embedding")))
    val out = df.select(col("vec_id"),
        Similarity.int8Quantize(col("embedding"), col("__scale")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(1L) === Seq(0, 0, 0))
    assert(out(2L) === Seq(64, -127, 32)) // floor(127*x/2 + .5)
  }

  test("int8 quantization round-trips within scale/254 per component") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("__scale", Similarity.int8Scale(col("embedding")))
    val rows = e.select(col("embedding"), col("__scale"),
        Similarity.int8Quantize(col("embedding"), col("__scale")).as("q"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      // floor(±127 + .5) stays in [-127, 127] even at x = ±scale
      assert(q.forall(x => x >= -127 && x <= 127))
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(qi * scale / 127 - x) <= scale / 254 + 1e-9,
          s"component $x dequantized too far: $qi (scale $scale)")
      }
    }
  }

  test("IVF ANN scores agree with brute force; recall is meaningful") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(ivf.nonEmpty)
    // exact scores within probed cells
    ivf.foreach { case (pair, ppm) =>
      brute.get(pair).foreach(exact => assert(exact === ppm))
    }
    // top-1 recall over all queries should be well above chance
    val bruteTop1 = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfTop1 = ivf.groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2).toMap
    val hits = ivfTop1.count { case (q, n) => bruteTop1.get(q).contains(n) }
    assert(hits.toDouble / bruteTop1.size > 0.3,
      s"IVF top-1 recall too low: $hits/${bruteTop1.size}")
  }

  test("Lloyd-trained IVF centroids beat the untrained sample on recall") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bruteTop1 = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def top1Recall(trainIters: Int): Double = {
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 3, trainIters = trainIters)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
      val top1 = ivf.groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2).toMap
      top1.count { case (q, n) => bruteTop1.get(q).contains(n) }.toDouble / bruteTop1.size
    }
    val untrained = top1Recall(0)
    val trained = top1Recall(2)
    // deterministic data: measured 0.486 untrained vs 0.628 after two
    // Lloyd rounds; assert with slack against incidental plan changes
    assert(trained > untrained, s"training did not help: $trained <= $untrained")
    assert(trained >= 0.6, s"trained recall regressed: $trained")
  }

  test("LshSignature codegen matches the interpreted eval and a Scala reference") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val rows = e.select(col("vec_id"), col("embedding"),
        graft.plans.LshSignature.lsh_signature(col("embedding"), 8).as("sig"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vec = r.getAs[scala.collection.Seq[Float]]("embedding")
      var expected = 0L
      (0 until 8).foreach { p =>
        var s = 0.0
        vec.indices.foreach(i =>
          s += graft.plans.LshSignature.planeComponent(p, i) * vec(i).toDouble)
        if (s >= 0.0) expected |= (1L << p)
      }
      assert(r.getAs[Long]("sig") === expected, s"vec ${r.getLong(0)}")
    }
    // signatures must discriminate (not all vectors in one bucket)
    assert(rows.map(_.getAs[Long]("sig")).distinct.length > 1)
  }

  test("RandomProjection codegen matches a Scala reference; seeds decorrelate") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val rows = e.select(col("vec_id"), col("embedding"),
        Similarity.randomProject(col("embedding"), 16, seed = 1L).as("proj"),
        Similarity.randomProject(col("embedding"), 16, seed = 2L).as("proj2"))
      .collect()
    assert(rows.nonEmpty)
    val inc1 = 2L * 0x9E3779B97F4A7C15L
    rows.foreach { r =>
      val vec = r.getAs[scala.collection.Seq[Float]]("embedding")
      val proj = r.getAs[scala.collection.Seq[Double]]("proj")
      assert(proj.length === 16)
      (0 until 16).foreach { p =>
        var s = 0.0
        vec.indices.foreach(i =>
          s += graft.plans.RandomProjection.component(inc1, p, i) * vec(i).toDouble)
        assert(proj(p) === s, s"vec ${r.getLong(0)} dim $p")
      }
      // a different seed must give a different projection (decorrelated
      // direction family, not a shifted copy)
      assert(proj !== r.getAs[scala.collection.Seq[Double]]("proj2"))
    }
  }

  test("RandomProjection seed 0 projects onto the LSH hyperplanes (sign == signature bit)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(100)
    val rows = e.select(
        Similarity.randomProject(col("embedding"), 16, seed = 0L).as("proj"),
        graft.plans.LshSignature.lsh_signature(col("embedding"), 16).as("sig"))
      .collect()
    rows.foreach { r =>
      val proj = r.getAs[scala.collection.Seq[Double]]("proj")
      val sig = r.getAs[Long]("sig")
      (0 until 16).foreach { p =>
        assert((proj(p) >= 0.0) === (((sig >> p) & 1L) == 1L), s"dim $p")
      }
    }
  }

  test("RandomProjection norm concentration tightens with outDims (JL property)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // per-row ratio ||proj v||² / ||v||² — a fixed projection scales
    // norms by a concentrated factor; the spread (max/min over rows)
    // must SHRINK as outDims grows (JL distortion ~ 1/sqrt(d))
    def spread(outDims: Int): Double = {
      val ratios = e.select(col("embedding"),
          Similarity.randomProject(col("embedding"), outDims, seed = 1L).as("p"))
        .collect().map { r =>
          val v = r.getAs[scala.collection.Seq[Float]](0)
          val p = r.getAs[scala.collection.Seq[Double]](1)
          p.map(x => x * x).sum / v.map(x => x.toDouble * x).sum
        }
      ratios.max / ratios.min
    }
    val s8 = spread(8)
    val s64 = spread(64)
    assert(s64 < s8, s"concentration did not tighten: spread(64)=$s64 >= spread(8)=$s8")
    assert(s64 < 4.0, s"64-dim projection norm spread too wide: $s64")
  }

  test("RandomProjection edge cases: empty vector projects to zeros, null to null") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq.empty[Float])), (2L, None))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val out = df.select(col("id"),
        Similarity.randomProject(col("v"), 4, seed = 1L).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).get.asInstanceOf[scala.collection.Seq[Double]] === Seq(0.0, 0.0, 0.0, 0.0))
    assert(out(2L).isEmpty)
  }

  test("q42 plan has no Expand; q38 plan has no unpartitioned window") {
    val d = "/root/testdata/sf0.001"
    val q42 = graft.SparkEntry.queries("q42_percentiles_distinct")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!q42.contains("Expand"), s"q42 regressed to an Expand plan:\n$q42")
    val q38 = graft.SparkEntry.queries("q38_cosine_ann_ivf")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q38.contains("TakeOrderedAndProject"), "centroid selection lost TakeOrdered")
    // the only windows allowed are partitioned (per-query top-k)
    assert(!q38.contains("Window [") || !q38.contains("windowspecdefinition()"),
      "unpartitioned window reappeared in q38")
  }

  test("q48 broadcasts the benchmark side; q50 window stays partitioned") {
    val d = "/root/testdata/sf0.001"
    val q48 = graft.SparkEntry.queries("q48_decontamination")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q48.contains("BroadcastHashJoin"),
      s"q48 benchmark join regressed off broadcast:\n$q48")
    assert(!q48.contains("SortMergeJoin"), "q48 corpus side should not sort-merge")
    val q50 = graft.SparkEntry.queries("q50_pack_sequences")(spark, d)
      .queryExecution.executedPlan.toString
    // the packing window must carry its shard partition key — a global
    // window here is the single-reducer scale-killer class
    assert(q50.contains("windowspecdefinition(shard"),
      s"q50 packing window lost its shard partitioning:\n$q50")
    // the centroid table is tiny by construction; re-shuffling the full
    // embedding table against it would be the regression
    val q52 = graft.SparkEntry.queries("q52_centroid_outlier")(spark, d)
      .queryExecution.executedPlan.toString
    assert(q52.contains("BroadcastHashJoin"),
      s"q52 centroid join regressed off broadcast:\n$q52")
  }

  test("multimodal feature extraction preserves schema and batch shape") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val out = Multimodal.extractFeatures(Multimodal.packBlobs(d), batchSize = 16)
    assert(out.schema === Multimodal.featureSchema)
    val rows = out.collect()
    assert(rows.length === 100)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("feature").length == 8))
    assert(rows.forall(_.getAs[Long]("n_bytes") > 0))
    // packBlobs payloads are bare UTF-8 text, not image containers
    assert(rows.forall(_.getAs[String]("mime") == "application/octet-stream"))
  }

  test("gopherRepetition: hand-computed line dups, top-gram claims, coverage islands") {
    // doc 1: duplicate lines + a repeated bigram
    //   lines ["x y","x y","z"]: 3 lines / 2 distinct → 333333 ppm;
    //   line chars 7 vs distinct 4 → 428571 ppm
    //   tokens [x,y,x,y,z], tc = 5 + 4 = 9; top2 "x y"×2 (len 3) →
    //   666666; top3 tie → lex-first "x y x" (len 5) → 555555;
    //   top4 "x y x y" (len 7) → 777777; no duplicated 5-gram → 0
    // doc 2: period-5 stream of 15 tokens — EVERY 5-gram (and the
    //   1↔6 10-gram pair) duplicates → full coverage 1000000
    // doc 3: two duplicated 5-gram islands separated by u1 u2 u3 —
    //   covered = 10 token chars + 8 intra-island spaces = 18 of
    //   tc = 16 + 12 = 28 → 642857 (the spaces BETWEEN islands are
    //   not claimed)
    val d = docs(
      1L -> "x y\nx y\nz",
      2L -> "a b c d e a b c d e a b c d e",
      3L -> "a b c d e u1 u2 u3 a b c d e")
    val got = TextFunctions.gopherRepetition(d, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("dup_line_ppm") === 333333L)
    assert(r1.getAs[Long]("dup_line_char_ppm") === 428571L)
    assert(r1.getAs[Long]("top2_char_ppm") === 666666L)
    assert(r1.getAs[Long]("top3_char_ppm") === 555555L)
    assert(r1.getAs[Long]("top4_char_ppm") === 777777L)
    assert(r1.getAs[Long]("dup5_char_ppm") === 0L)
    assert(r1.getAs[Long]("dup10_char_ppm") === 0L)
    val r2 = got(2L)
    assert(r2.getAs[Long]("dup_line_ppm") === 0L)
    assert(r2.getAs[Long]("dup5_char_ppm") === 1000000L)
    assert(r2.getAs[Long]("dup10_char_ppm") === 1000000L)
    val r3 = got(3L)
    assert(r3.getAs[Long]("dup5_char_ppm") === 642857L)
    assert(r3.getAs[Long]("dup10_char_ppm") === 0L)
  }

  test("gopherRepetition: docs shorter than the gram sizes report all zeros") {
    // sequence(1, 0) is DESCENDING in Spark — an unguarded per-n gram
    // transform slices at position 0 and throws. These docs (0-3
    // tokens, incl. empty and whitespace-only) must both survive and
    // match the oracle's zeros.
    val d = docs(
      1L -> "",
      2L -> "   ",
      3L -> "one",
      4L -> "one two",
      5L -> "one two three")
    val got = TextFunctions.gopherRepetition(d, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    val ppmCols = Seq("dup_line_ppm", "dup_line_char_ppm", "top2_char_ppm",
      "top3_char_ppm", "top4_char_ppm", "dup5_char_ppm", "dup10_char_ppm")
    for (id <- Seq(1L, 2L, 3L); c <- ppmCols)
      assert(got(id).getAs[Long](c) === 0L, s"doc $id col $c")
    // 2 tokens: a top-2 gram exists (count 1) but nothing longer
    assert(got(4L).getAs[Long]("top2_char_ppm") === 1000000L)
    assert(got(4L).getAs[Long]("top3_char_ppm") === 0L)
    assert(got(4L).getAs[Long]("top4_char_ppm") === 0L)
    // 3 tokens: top-3 exists, top-4 does not
    assert(got(5L).getAs[Long]("top3_char_ppm") === 1000000L)
    assert(got(5L).getAs[Long]("top4_char_ppm") === 0L)
  }

  test("decodeImageHeader: PNG IHDR fields for every color type") {
    def png(w: Int, h: Int, bitDepth: Int, colorType: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(40)
      bb.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w).putInt(h)
      bb.put(bitDepth.toByte).put(colorType.toByte)
      bb.put(0.toByte).put(0.toByte).put(0.toByte) // comp/filter/interlace
      bb.putInt(0) // CRC (decoder ignores)
      bb.array()
    }
    val chan = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)
    for ((ct, ch) <- chan) {
      val m = Multimodal.decodeImageHeader(png(640, 480, 16, ct))
      assert(m === Multimodal.ImageMeta("image/png", 640, 480, ch, 16),
        s"colorType $ct")
    }
    // large dims exercise the BE32 path beyond one byte
    assert(Multimodal.decodeImageHeader(png(70000, 33000, 8, 6)) ===
      Multimodal.ImageMeta("image/png", 70000, 33000, 4, 8))
  }

  test("decodeImageHeader: JPEG marker scan skips segments and restart markers to SOF") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    def sof(marker: Int, w: Int, h: Int, ncomp: Int, prec: Int): Array[Byte] =
      seg(marker, Array(prec.toByte,
        (h >> 8).toByte, (h & 0xff).toByte, (w >> 8).toByte, (w & 0xff).toByte,
        ncomp.toByte) ++ Array.fill(3 * ncomp)(0.toByte))
    val soi = Array(0xff.toByte, 0xd8.toByte)
    // APP0 + variable COM + DQT + a standalone TEM marker, then baseline SOF0
    val jpg = soi ++ seg(0xe0, Array.fill(14)(0.toByte)) ++
      seg(0xfe, "a comment".getBytes("US-ASCII")) ++
      seg(0xdb, Array.fill(65)(1.toByte)) ++
      Array(0xff.toByte, 0x01.toByte) ++
      sof(0xc0, 1024, 768, 3, 8) ++ "payload".getBytes("US-ASCII")
    assert(Multimodal.decodeImageHeader(jpg) ===
      Multimodal.ImageMeta("image/jpeg", 1024, 768, 3, 8))
    // progressive (SOF2), grayscale, 12-bit
    val prog = soi ++ seg(0xe1, Array.fill(5)(0.toByte)) ++ sof(0xc2, 31, 7, 1, 12)
    assert(Multimodal.decodeImageHeader(prog) ===
      Multimodal.ImageMeta("image/jpeg", 31, 7, 1, 12))
    // DHT (C4) must be skipped as a table segment, NOT read as a SOF
    val withDht = soi ++ seg(0xc4, Array.fill(10)(2.toByte)) ++ sof(0xc1, 5, 6, 3, 8)
    assert(Multimodal.decodeImageHeader(withDht) ===
      Multimodal.ImageMeta("image/jpeg", 5, 6, 3, 8))
    // spec-legal 0xFF fill-byte runs before a marker (T.81 §B.1.1.2):
    // the marker is the byte after the LAST 0xFF, not the first
    val padded = soi ++ Array.fill(4)(0xff.toByte) ++
      seg(0xe0, Array.fill(3)(0.toByte)).drop(1) ++ // fill run ends in seg's own 0xFF
      Array.fill(7)(0xff.toByte) ++ sof(0xc0, 99, 44, 3, 8).drop(1)
    assert(Multimodal.decodeImageHeader(padded) ===
      Multimodal.ImageMeta("image/jpeg", 99, 44, 3, 8))
  }

  test("decodeImageHeader: truncated and non-image payloads degrade to octet-stream") {
    val unk = Multimodal.ImageMeta("application/octet-stream", 0, 0, 0, 0)
    assert(Multimodal.decodeImageHeader("not an image".getBytes("UTF-8")) === unk)
    assert(Multimodal.decodeImageHeader(Array[Byte]()) === unk)
    // PNG signature but truncated before the IHDR dims
    assert(Multimodal.decodeImageHeader(
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0, 0).map(_.toByte)) === unk)
    // JPEG SOI but the stream ends mid-segment before any SOF
    assert(Multimodal.decodeImageHeader(
      Array(0xff, 0xd8, 0xff, 0xe0, 0x00).map(_.toByte)) === unk)
  }

  test("packImageBlobs → extractFeatures round-trips id-derived dimensions") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val rows = Multimodal.extractFeatures(Multimodal.packImageBlobs(d))
      .collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 2 == 0) {
        assert(r.getAs[String]("mime") === "image/png")
        assert(r.getAs[Int]("width") === (id % 512 + 16).toInt)
        assert(r.getAs[Int]("height") === (id % 384 + 16).toInt)
        assert(r.getAs[Int]("channels") === 4)
        assert(r.getAs[Int]("bit_depth") === 8)
      } else {
        assert(r.getAs[String]("mime") === "image/jpeg")
        assert(r.getAs[Int]("width") === (id % 1024 + 16).toInt)
        assert(r.getAs[Int]("height") === (id % 768 + 16).toInt)
        assert(r.getAs[Int]("channels") === 3)
        assert(r.getAs[Int]("bit_depth") === 8)
      }
    }
  }

  test("frame sampling produces indexed fixed-size frames") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001").limit(5)
    val frames = Multimodal.sampleFrames(Multimodal.packBlobs(d)).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Long]("frame_bytes") <= 32))
  }

  test("line dedup drops corpus-wide boilerplate, keeps order, empties all-boilerplate docs") {
    val df = docs(
      1L -> "COOKIE BANNER\nreal content one\nNAV BAR",
      2L -> "COOKIE BANNER\nunique insight two\nNAV BAR",
      3L -> "COOKIE BANNER\nNAV BAR",
      4L -> "standalone document")
    val out = Dedup.lineDedup(df, "doc_id", col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"))).toMap
    assert(out(1L) === ("real content one", 1L))
    assert(out(2L) === ("unique insight two", 1L))
    assert(out(3L) === ("", 0L)) // every line boilerplate -> survives empty
    assert(out(4L) === ("standalone document", 1L))
  }

  test("intra-doc line dedup keeps first occurrence, preserves order, no cross-doc state") {
    val df = docs(
      1L -> "nav\nreal one\nnav\nreal two\nreal one",
      2L -> "nav\nonly here") // "nav" repeats across docs but not within doc 2
    val out = Dedup.intraDocLineDedup(df, "doc_id", col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"))).toMap
    assert(out(1L) === ("nav\nreal one\nreal two", 3L))
    assert(out(2L) === ("nav\nonly here", 2L)) // intra-doc only: doc 2 untouched
  }

  test("line dedup default plan has no forced broadcast (scale-safe anti-join)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // a web-scale hot-line set cannot broadcast: with broadcasts
    // disabled session-wide, a surviving broadcast join can only come
    // from a hard-coded hint — the round-5 driver-OOM shape
    val df = docs(1L -> "a\nb", 2L -> "a\nc")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val priorThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def broadcasts(d: org.apache.spark.sql.DataFrame) =
        d.queryExecution.executedPlan.collect { case b: BroadcastHashJoinExec => b }
      assert(broadcasts(Dedup.lineDedup(df, "doc_id", col("text"))).isEmpty,
        "default lineDedup must shuffle the anti-join, not force a broadcast")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThr)
    }
  }

  test("line dedup threshold: lines below minOccurrences survive everywhere") {
    val df = docs(1L -> "twice\na", 2L -> "twice\nb", 3L -> "c")
    val out = Dedup.lineDedup(df, "doc_id", col("text"), minOccurrences = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(out(1L) === "twice\na") // 2 occurrences < 3: kept
    assert(out(2L) === "twice\nb")
    assert(out(3L) === "c")
  }

  test("shuffle order is a permutation: contiguous per-shard sequences, every doc once") {
    val df = docs((1L to 100L).map(i => i -> s"doc $i"): _*)
    val out = Sampling.shuffleOrder(df, "doc_id", numShards = 4).collect()
    assert(out.length === 100)
    assert(out.map(_.getAs[Long]("doc_id")).toSet === (1L to 100L).toSet)
    out.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val seqs = rows.map(_.getAs[Long]("seq")).sorted
      assert(seqs === (1L to rows.length).toArray.toSeq) // contiguous, 1-based
    }
    // deterministic: a second run produces the identical assignment
    val again = Sampling.shuffleOrder(df, "doc_id", numShards = 4).collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
      === again.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1))
  }

  test("stratifiedSplit: exact floor proportions per stratum, deterministic, tiny strata go all-val") {
    import spark.implicits._
    // strata: a=10 rows, b=7 rows, c=1 row; 800‰ → train 8, 5, 0
    val df = ((1L to 10L).map(i => (i, "a")) ++ (11L to 17L).map(i => (i, "b")) ++
      Seq((18L, "c"))).toDF("doc_id", "source")
    val out = Sampling.stratifiedSplit(df, "doc_id", "source", trainPermille = 800)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length === 18)
    val counts = out.groupBy(x => (x._2, x._3)).view.mapValues(_.length).toMap
    assert(counts(("a", "train")) === 8)
    assert(counts(("b", "train")) === 5)
    assert(counts.getOrElse(("c", "train"), 0) === 0) // ⌊0.8·1⌋ = 0
    assert(counts(("c", "val")) === 1)
    // deterministic re-run
    val again = Sampling.stratifiedSplit(df, "doc_id", "source", trainPermille = 800)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("mix by budget respects the per-source token cap and is a prefix in hash order") {
    val df = {
      import spark.implicits._
      (1L to 30L).map(i => (i, s"w1 w2 w3 w4 w5", if (i <= 20) "big" else "small"))
        .toDF("doc_id", "text", "source")
    }
    val out = Sampling.mixByBudget(df, "doc_id", col("text"), "source",
      budgetTokens = 25L).collect()
    // 5 tokens per doc -> exactly 5 docs fit per source
    val bySource = out.groupBy(_.getAs[String]("source"))
    assert(bySource("big").length === 5)
    assert(bySource("small").length === 5)
    assert(out.forall(_.getAs[Long]("cum_tokens") <= 25L))
    // kept set is the md5-order prefix: max kept hash < min dropped hash
    val keptIds = out.map(_.getAs[Long]("doc_id")).toSet
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (keptH, dropH) = (1L to 20L).map(i => (h(i), keptIds.contains(i)))
      .partition(_._2)
    assert(keptH.map(_._1).max < dropH.map(_._1).min)
  }

  test("duplicateSpans merges overlapping k-grams into maximal intervals") {
    val shared = (1 to 10).map(i => s"c$i").mkString(" ") // 10 shared tokens
    val df = docs(
      1L -> s"$shared tail1 tail2",        // shared at positions 1..10
      2L -> s"pre1 pre2 $shared post1",    // shared at positions 3..12
      3L -> "too short")                   // < k tokens: no grams at all
    val out = Dedup.duplicateSpans(df, "doc_id", col("text"), k = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
          r.getAs[Long]("span_tokens")))).toMap
    // three overlapping duplicated 8-grams per doc merge into ONE span
    // covering the whole shared run
    assert(out === Map(1L -> ((1L, 10L, 10L)), 2L -> ((3L, 12L, 10L))))
  }

  test("duplicateSpans leaves disjoint duplicated regions as separate spans") {
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    val gap = (1 to 5).map(i => s"g$i").mkString(" ") // unique separator
    val df = docs(
      1L -> s"$runA $gap $runB", // spans 1..8 and 14..21, gap 9..13 unique
      2L -> runA,
      3L -> runB)
    val spans = Dedup.duplicateSpans(df, "doc_id", col("text"), k = 8)
      .filter(col("doc_id") === 1L).collect()
      .map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSet
    assert(spans === Set((1L, 8L), (14L, 21L)))
  }

  test("matchedSpans reports maximal cross-doc spans with both positions") {
    val shared = (1 to 12).map(i => s"s$i").mkString(" ") // 12 shared tokens
    val df = docs(
      1L -> s"$shared one1 one2",           // shared at a-positions 1..12
      2L -> s"pre1 pre2 pre3 $shared tail", // shared at b-positions 4..15
      3L -> "totally unrelated text here")
    val out = Dedup.matchedSpans(df, "doc_id", col("text"),
        k = 8, minTokens = 10, maxSeedOccurrences = 50)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"),
        r.getAs[Long]("span_tokens")))
    CacheRegistry.releaseAll()
    assert(out.toSeq === Seq((1L, 2L, 1L, 4L, 12L)))
  }

  test("matchedSpans separates diagonals and drops sub-minTokens matches") {
    val runA = (1 to 10).map(i => s"p$i").mkString(" ")  // 10 tokens
    val runB = (1 to 8).map(i => s"q$i").mkString(" ")   // 8 tokens (< minTokens)
    val df = docs(
      1L -> s"$runA gapx1 gapx2 $runB",
      2L -> s"$runB gapy1 $runA")
    val out = Dedup.matchedSpans(df, "doc_id", col("text"),
        k = 8, minTokens = 10, maxSeedOccurrences = 50)
      .collect().map(r => (r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"),
        r.getAs[Long]("span_tokens"))).toSet
    CacheRegistry.releaseAll()
    // runA (10 tokens, a-pos 1, b-pos 10) survives; runB (8 < 10) is cut
    assert(out === Set((1L, 10L, 10L)))
  }

  test("matchedSpans seed cap skips spans made only of over-cap grams but recovers capped grams inside anchored spans") {
    val common = (1 to 16).map(i => s"w$i").mkString(" ") // 16-token shared run
    // the run appears in ALL FOUR docs → every one of its 8-grams occurs
    // >= 4 times; with cap 3 nothing anchors → no pairs at all
    val everywhere = docs(
      1L -> s"$common a1", 2L -> s"$common b1", 3L -> s"$common c1",
      4L -> s"$common d1")
    val none = Dedup.matchedSpans(everywhere, "doc_id", col("text"),
      k = 8, minTokens = 10, maxSeedOccurrences = 3)
    assert(none.count() === 0L)
    CacheRegistry.releaseAll()
    // same corpus, but docs 1 and 2 extend the run with a RARE shared
    // tail: the tail 8-grams (2 occurrences) anchor the pair, and
    // extension recovers the full run INCLUDING the over-cap prefix
    val rare = (1 to 4).map(i => s"r$i").mkString(" ")
    val anchored = docs(
      1L -> s"$common $rare", 2L -> s"$common $rare", 3L -> s"$common c1",
      4L -> s"$common d1")
    val got = Dedup.matchedSpans(anchored, "doc_id", col("text"),
        k = 8, minTokens = 10, maxSeedOccurrences = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"),
        r.getAs[Long]("span_tokens")))
    CacheRegistry.releaseAll()
    assert(got.toSeq === Seq((1L, 2L, 1L, 1L, 20L)))
  }

  test("bm25TopK scores exact integer milli-units (hand-computed corpus)") {
    val df = docs(
      1L -> "apple banana cherry",
      2L -> "apple apple date",
      3L -> "kiwi lime mango")
    // N=3, sdl=9, df(apple)=2, idf=(2*3-2*2+1)/(2*2+1)=3/5
    // d1 tf=1: 1000*44*1*9*3 div ((180+54+162)*5) = 1188000/1980 = 600
    // d2 tf=2: 1000*44*2*9*3 div ((360+54+162)*5) = 2376000/2880 = 825
    val out = Retrieval.bm25TopK(df, "doc_id", col("text"), Seq("apple"), 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_milli")))
    assert(out.toSeq === Seq(2L -> 825L, 1L -> 600L))
  }

  test("bm25TopK ranks the rarer term above the common one at equal tf") {
    import spark.implicits._
    // "common" in 8 docs, "rare" in 1; probe docs have equal length
    val filler = (1 to 7).map(i => (100L + i, s"common pad$i x y z"))
    val df = (filler :+ (1L, "common a b c d") :+ (2L, "rare a b c d"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(df, "doc_id", col("text"),
      Seq("common", "rare"), 10).collect()
    val score = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_milli"))).toMap
    assert(score(2L) > score(1L))
  }

  test("weightedByHash is deterministic and always keeps saturated weights") {
    import spark.implicits._
    // one heavy row whose w*k >= sum(w): inclusion probability 1
    val df = ((1L to 10L).map(i => (i, 1L)) :+ (99L, 1000L)).toDF("doc_id", "w")
    val run1 = Sampling.weightedByHash(df, "doc_id", col("w"), expectedK = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val run2 = Sampling.weightedByHash(df, "doc_id", col("w"), expectedK = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(run1 === run2)
    assert(run1.contains(99L))
    // coin matches Spark's own xxhash64: recompute u for every kept row
    val coins = df.select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(1000000L)).as("u"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("u")).toMap
    val sumw = 1010L
    val expected = coins.collect {
      case (id, u) if u * sumw < (if (id == 99L) 1000L else 1L) * 5L * 1000000L => id
    }.toSet
    assert(run1 === expected)
  }

  test("allocateBudget: hand-computed largest-remainder apportionment") {
    import spark.implicits._
    // sizes 4,4,1 → weights 2,2,1, W=5, B=7: quotas 2,2,1 (Σ=5),
    // remainders 4,4,2 → the two leftover units go to a and b
    val out = Sampling.allocateBudget(
        Seq(("a", 4L), ("b", 4L), ("c", 1L)).toDF("source", "sz"),
        "source", "sz", budget = 7L)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("weight"), r.getAs[Long]("alloc")))).toMap
    assert(out === Map("a" -> ((2L, 3L)), "b" -> ((2L, 3L)),
      "c" -> ((1L, 1L))))
  }

  test("allocateBudget: Σalloc = budget exactly, monotone in size") {
    import spark.implicits._
    val sizes = Seq(("s1", 7949L), ("s2", 8570L), ("s3", 1L), ("s4", 0L),
      ("s5", 999999937L), ("s6", 123456789L))
    val out = Sampling.allocateBudget(sizes.toDF("source", "sz"),
        "source", "sz", budget = 1000000L)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("sz"),
        r.getAs[Long]("alloc")))
    assert(out.map(_._3).sum === 1000000L)
    // √-damped but monotone: a larger source never gets less
    for (pair <- out.sortBy(_._2).sliding(2) if pair.length == 2)
      assert(pair(0)._3 <= pair(1)._3, s"${pair(0)} vs ${pair(1)}")
  }

  test("allocateBudget: integer square root is exact at double-rounding traps") {
    import spark.implicits._
    // sqrt(10^16 − 1) rounds UP to 10^8 in double; the cross-multiplied
    // correction must floor it back. Same trap on both sides of k².
    val k = 100000000L
    val out = Sampling.allocateBudget(
        Seq(("exact", k * k), ("below", k * k - 1), ("above", k * k + 1))
          .toDF("source", "sz"),
        "source", "sz", budget = 1000L)
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("weight")).toMap
    assert(out === Map("exact" -> k, "below" -> (k - 1), "above" -> k))
  }

  test("hard negatives: every mined pair crosses labels; scores are the exact cosine") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val anchors = e.filter(col("vec_id") < 8)
    val out = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        anchors, "vec_id", "embedding", "label", k = 5)
      .collect()
    assert(out.length === 8 * 5)
    out.foreach { r =>
      assert(r.getAs[Int]("query_label") !== r.getAs[Int]("neighbor_label"))
    }
    // the mined top-1 must be the true cross-label max: brute-force all
    // neighbors (large k), drop same-label, take the best per anchor
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        anchors, "vec_id", "embedding", k = 499)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .filter { case (q, n, _) => labels(q) != labels(n) }
      .groupBy(_._1).view.mapValues(_.maxBy(t => (t._3, -t._2))._2).toMap
    val minedTop1 = out.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(minedTop1 === brute)
  }

  test("hardNegativesLsh: cross-label only, exact scores, useful recall") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        e, "vec_id", "embedding", "label", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val lsh = Similarity.hardNegativesLsh(e, "vec_id", "embedding", "label", k = 1)
      .collect()
    CacheRegistry.releaseAll()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(r.getAs[Int]("query_label") !== r.getAs[Int]("neighbor_label"))
    }
    val hits = lsh.count { r =>
      exact.get(r.getAs[Long]("query_id")).contains(r.getAs[Long]("neighbor_id"))
    }
    // banded candidates miss by design; the 8×4 default measured 0.71
    // top-1 agreement on this corpus (chance ≈ 1/500) — assert with
    // slack against incidental plan changes
    assert(hits.toDouble / lsh.length > 0.4,
      s"LSH hard-negative top-1 recall too low: $hits/${lsh.length}")
  }

  test("PQ encode: one code per subspace, every code a codebook member") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      subspaces = 4, codebookSize = 8, dim = 64)
    val valid = books.collect()
      .map(r => r.getAs[Int]("sub") -> r.getAs[Long]("cid"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(valid.keySet === Set(0, 1, 2, 3))
    assert(valid.values.forall(_.size === 8))
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", books,
      subspaces = 4, dim = 64).collect()
    assert(codes.length === 500)
    codes.foreach { r =>
      val cs = r.getSeq[Long](1)
      assert(cs.length === 4)
      cs.zipWithIndex.foreach { case (c, s) => assert(valid(s).contains(c)) }
    }
  }

  test("PQ ADC search: recall above chance; Lloyd training shrinks quantization error") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bruteTop1 = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopK(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 3, subspaces = 8, codebookSize = 64, dim = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    val pqTop1 = pq.groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2).toMap
    val hits = pqTop1.count { case (q, n) => bruteTop1.get(q).contains(n) }
    // this corpus is near-uniform (quantization noise hurts most
    // there); 8×64 books measured 0.228 exact-top-1-in-PQ-top-3 vs
    // the 1/500 chance level — assert with slack
    assert(hits.toDouble / bruteTop1.size > 0.12,
      s"PQ top-1 recall too low: $hits/${bruteTop1.size}")

    // Lloyd rounds per subspace are guaranteed to not increase the
    // within-cell SSE — measure reconstruction error through pqEncode
    def meanSqErr(iters: Int): Double = {
      val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
        subspaces = 4, codebookSize = 8, dim = 64, iters = iters)
      val bk = books.collect()
        .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cid")) ->
          r.getSeq[Float](2).map(_.toDouble)).toMap
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", books,
        subspaces = 4, dim = 64).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      vecs.map { case (vid, v) =>
        codes(vid).zipWithIndex.map { case (c, s) =>
          val cw = bk((s, c))
          v.slice(s * 16, s * 16 + 16).zip(cw)
            .map { case (a, b) => (a - b) * (a - b) }.sum
        }.sum
      }.sum / vecs.size
    }
    val untrained = meanSqErr(0)
    val trained = meanSqErr(2)
    assert(trained < untrained,
      s"Lloyd training did not reduce reconstruction error: $trained >= $untrained")
  }

  test("crossSplitLeakage keeps only pairs straddling the split") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 900000L), (3L, 4L, 800000L), (5L, 6L, 700000L))
      .toDF("id_a", "id_b", "jaccard_ppm")
    val splits = Seq(1L -> "train", 2L -> "val", 3L -> "train", 4L -> "train",
      5L -> "val", 6L -> "train").toDF("doc_id", "split")
    val out = Dedup.crossSplitLeakage(pairs, "id_a", "id_b", splits, "doc_id", "split")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).toSet
    assert(out === Set((1L, 2L, "train", "val"), (5L, 6L, "val", "train")))
  }

  test("hashSampleQuantile: full-group sample is the exact nearest-rank quantile; order-independent") {
    import spark.implicits._
    // k >= group size → the sample IS the group → exact order statistic
    val df = Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L),
      ("b", 4L, 5L), ("b", 5L, 7L)).toDF("grp", "id", "v")
    val out = Sketches.hashSampleQuantile(df, "grp", "id", "v", k = 10, qPermille = 500)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("sample_n"), r.getAs[Long]("est")))).toMap
    // ceil(0.5·3)=2nd of [10,20,30]=20; ceil(0.5·2)=1st of [5,7]=5
    assert(out === Map("a" -> ((3L, 3L, 20L)), "b" -> ((2L, 2L, 5L))))
    // k below group size: deterministic under arbitrary repartitioning
    val big = (1L to 100L).map(i => ("g", i, i * 3 % 97)).toDF("grp", "id", "v")
    val e1 = Sketches.hashSampleQuantile(big, "grp", "id", "v", 16, 500).collect()
    val e2 = Sketches.hashSampleQuantile(big.repartition(7), "grp", "id", "v", 16, 500)
      .collect()
    assert(e1.map(_.toSeq).toSeq === e2.map(_.toSeq).toSeq)
    assert(e1.head.getAs[Long]("sample_n") === 16L)
    // p1000 (max) of the sample == sorted sample's last element ≥ p500
    val p50 = e1.head.getAs[Long]("est")
    val p100 = Sketches.hashSampleQuantile(big, "grp", "id", "v", 16, 1000)
      .collect().head.getAs[Long]("est")
    assert(p100 >= p50)
  }

  test("contrastiveTriplets pairs best positive with best hard negative; incomplete anchors drop") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), // anchor
      (2L, Array(0.9f, 0.1f), 0), // its positive
      (3L, Array(0.8f, 0.2f), 1), // nearest cross-label → negative
      (4L, Array(0f, 1f), 2)) // lone label → no positive exists
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastiveTriplets(vecs, "vec_id", "embedding", "label",
        vecs, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id")))).toMap
    // anchors 3 and 4 have no same-label peer → no triplet; anchors
    // 1/2 pick each other as positives and 3 (nearest cross-label,
    // beating 4) as the hard negative
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((2L, 3L)))
    assert(out(2L) === ((1L, 3L)))
  }

  test("stripMarkup: comments, script/style bodies, tags and entities all go") {
    import spark.implicits._
    val out = Seq(
        "<p>Hello <b>world</b></p>",
        "<!-- hidden --><div>a</div>",
        "<script>if (a < b) { alert('x'); }</script>visible",
        "<STYLE type=\"a\">p{}</STYLE>kept",
        "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "no markup at all",
        "  spaced   out  ")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.stripMarkup(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "Hello world")
    assert(out(1L) === "a")
    assert(out(2L) === "visible")
    assert(out(3L) === "kept")
    assert(out(4L) === "a & b <tag> \"q\" 's' end")
    assert(out(5L) === "no markup at all")
    assert(out(6L) === "spaced out")
  }

  test("canonicalizeUrl: ports, case, tracking params, sort, fragment, empty path") {
    import spark.implicits._
    val cases = Seq(
      // default ports strip; non-default ports stay
      "HTTP://Example.COM:80/a" -> "http://example.com/a",
      "https://Example.com:443/a" -> "https://example.com/a",
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      // https keeps :80 (not its default)
      "https://example.com:80/a" -> "https://example.com:80/a",
      // fragment drops; empty path normalizes
      "http://h.io#frag" -> "http://h.io/",
      "http://h.io/p#a?b=1" -> "http://h.io/p",
      // tracking params drop, the rest sort, empties vanish
      "http://h.io/p?z=1&utm_source=x&a=2&fbclid=f&gclid=g&&b=3" ->
        "http://h.io/p?a=2&b=3&z=1",
      // tracking-only query → no '?'
      "http://h.io/p?utm_campaign=c" -> "http://h.io/p",
      // path case is SIGNIFICANT (only scheme/host lowercase)
      "HTTPS://H.io/CaseSensitive?Q=1" -> "https://h.io/CaseSensitive?Q=1",
      // RFC 3986 §6.2.2.2: unreserved escapes DECODE (%7e/%7E → ~,
      // %41 → A, %5f → _, %2d → -, %2e → ., %30 → 0)
      "http://h.io/%7euser/%7E2" -> "http://h.io/~user/~2",
      "http://h.io/%41%5a%61%7a%30%39%2d%2e%5f" -> "http://h.io/AZaz09-._",
      // §6.2.2.1: reserved escapes stay encoded, hex UPPERCASES
      "http://h.io/a%2fb?x=%3a" -> "http://h.io/a%2Fb?x=%3A",
      // %25 (the escape char itself) is reserved-class: stays
      "http://h.io/100%25?a=1" -> "http://h.io/100%25?a=1",
      // malformed escapes pass through verbatim (tolerant reader)
      "http://h.io/a%G1/b%" -> "http://h.io/a%G1/b%",
      "http://h.io/%" -> "http://h.io/%",
      // decode runs BEFORE the query split: an encoded tracking key
      // normalizes into the drop list; surviving params sort on the
      // DECODED text
      "http://h.io/p?utm%5Fsource=x&b=%7e&a=1" -> "http://h.io/p?a=1&b=~")
    val out = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"), TextFunctions.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((raw, want), i) =>
      assert(out(i.toLong) === want, s"for $raw")
    }
  }

  test("c4Rules: line rules, page rules, and cleaned text on hand-built pages") {
    import spark.implicits._
    val goodPage = Seq(
      "Good line with five words here.",          // kept
      "short line.",                              // < 5 words
      "no terminal punctuation five words here",  // no terminal mark
      "This javascript line has six words.",      // javascript rule
      "Another good line with question mark?",    // kept
      "Quoted line with enough words here.\"").mkString("\n") // kept (end quote)
    val twoSent = "One fine sentence of five words.\nA second sentence of five words."
    val curly = goodPage + "\nif (x) { braces } appear."
    val lorem = goodPage + "\nLorem Ipsum dolor sit amet filler."
    val df = Seq((1L, goodPage), (2L, twoSent), (3L, curly), (4L, lorem), (5L, ""))
      .toDF("id", "page")
      .select(col("id"), TextFunctions.c4Rules(col("page")).as("c4"))
      .select(col("id"), col("c4.*"))
    val rows = df.collect().map(r => r.getAs[Long]("id") -> r).toMap
    val g = rows(1L)
    assert(g.getAs[Long]("n_lines") === 6)
    assert(g.getAs[Long]("n_kept_lines") === 3)
    assert(g.getAs[Long]("n_sentences") === 3)
    assert(g.getAs[Boolean]("passes"))
    assert(g.getAs[String]("kept_text") ===
      "Good line with five words here.\nAnother good line with question mark?\nQuoted line with enough words here.\"")
    assert(!rows(2L).getAs[Boolean]("passes")) // only 2 sentences
    assert(rows(2L).getAs[Long]("n_kept_lines") === 2)
    assert(rows(3L).getAs[Boolean]("has_curly") && !rows(3L).getAs[Boolean]("passes"))
    assert(rows(4L).getAs[Boolean]("has_lorem") && !rows(4L).getAs[Boolean]("passes"))
    val e = rows(5L)
    assert(e.getAs[Long]("n_lines") === 1 && e.getAs[Long]("n_kept_lines") === 0
      && e.getAs[String]("kept_text") === "" && !e.getAs[Boolean]("passes"))
  }

  test("IntMath.fracLog2Col matches the Scala reference and true log2") {
    import spark.implicits._
    import graft.functions.IntMath
    val rnd = new scala.util.Random(7)
    val bound = 1L << 61
    val pairs = Seq(
      (1L, 1L), (1L, bound - 1), (bound - 1, 1L), (3L, 7L), (7L, 3L),
      (1L << 31, (1L << 31) - 1), (1000000L, 999999L)) ++
      Seq.fill(300)((math.abs(rnd.nextLong()) % (bound - 1) + 1,
        math.abs(rnd.nextLong()) % (bound - 1) + 1))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    val got = IntMath.fracLog2Col(df, "a", "b", "l")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("l")).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val ref = IntMath.fracLog2Ref(a, b)
      assert(got(i.toLong) === ref, s"($a, $b)")
      // the recurrence tracks true log2 to the fixed-point grain
      assert(math.abs(ref / 1024.0 - math.log(a.toDouble / b) / math.log(2))
        < 0.002, s"($a, $b) drifted from log2")
    }
  }

  test("dsirWeights: target-language docs rank first; no row without tokens") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", col("text"))
    val rows = w.join(docs.select("doc_id", "lang"), "doc_id").collect()
    graft.operators.CacheRegistry.releaseAll()
    assert(rows.length === 500) // every fixture doc has tokens
    val top = rows.sortBy(r => (-r.getAs[Long]("avg_millibits"),
      r.getAs[Long]("doc_id"))).take(100)
    val enTop = top.count(_.getAs[String]("lang") == "en")
    // base rate is 193/500 — selection must clearly enrich the target
    assert(enTop > 45, s"top-100 only $enTop en docs")
    def mean(f: Array[org.apache.spark.sql.Row]): Double =
      f.map(_.getAs[Long]("avg_millibits").toDouble).sum / f.length
    val (en, rest) = rows.partition(_.getAs[String]("lang") == "en")
    assert(mean(en) > mean(rest), "en mean weight must exceed the rest")
    // a doc with no tokens contributes no evidence and no row
    val toy = Seq((1L, "alpha beta"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val toyW = Sampling.dsirWeights(toy, toy.filter(col("doc_id") === 1L),
      "doc_id", col("text"), dims = 4)
    assert(toyW.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    CacheRegistry.releaseAll()
  }

  test("blocklistFilter: token boundaries, phrases, normalization, overlap counting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the scanner runs a scan now"),      // 'scan' hits once; 'scanner' must NOT
      (2L, "batch batch batch end"),            // sliding window: 'batch batch' twice
      (3L, "a HASH   value appears"),           // case + run-of-spaces normalize
      (4L, "perfectly clean text"),
      (5L, "   ")                               // no tokens -> zero hits, kept
    ).toDF("doc_id", "text")
    val terms = Seq("Scan", "batch  batch", "hash value").toDF("term")
    val out = TextFunctions.blocklistFilter(docs, "doc_id", col("text"), terms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, 1L, false)))
    assert(out(2L) === ((2L, 1L, false)))
    assert(out(3L) === ((1L, 1L, false)))
    assert(out(4L) === ((0L, 0L, true)))
    assert(out(5L) === ((0L, 0L, true)))
    // empty terms table (and all-unusable terms): no hits, all kept —
    // not an NPE on the null max phrase length
    for (t <- Seq(Seq.empty[String], Seq("   ", ""))) {
      val none = TextFunctions.blocklistFilter(docs, "doc_id", col("text"),
        t.toDF("term")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(none.size === 5)
      assert(none.values.forall(_ === ((0L, 0L, true))), s"terms=$t: $none")
    }
  }

  test("scriptProfile: per-script counts, dominance switches, tie precedence") {
    import spark.implicits._
    val rows = Seq(
      (1L, "hello мир"),  // latin 5 > cyr 3
      (2L, "北京大学 ok"), // han 4 > latin 2
      (3L, "مرحبا"),      // arabic only
      (4L, "123 !!"),     // no script chars at all
      (5L, "abяб")        // latin 2 == cyr 2 → precedence picks latin
    ).toDF("id", "t")
    val got = rows.select(col("id"), TextFunctions.scriptProfile(col("t")).as("p"))
      .select(col("id"), col("p.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_latin") === 5L)
    assert(got(1L).getAs[Long]("n_cyrillic") === 3L)
    assert(got(1L).getAs[String]("dominant") === "latin")
    assert(got(1L).getAs[Long]("latin_permille") === 555L) // 5*1000/9
    assert(got(2L).getAs[Long]("n_han") === 4L)
    assert(got(2L).getAs[String]("dominant") === "han")
    assert(got(3L).getAs[String]("dominant") === "arabic")
    assert(got(4L).getAs[String]("dominant") === "other")
    assert(got(4L).getAs[Long]("n_digit") === 3L)
    assert(got(5L).getAs[String]("dominant") === "latin") // tie → precedence
  }

  test("sentences: terminator runs, unterminated tails, no-whitespace non-splits") {
    import spark.implicits._
    val rows = Seq(
      (1L, "One. Two! Three?"),         // 3 sentences, tail terminated
      (2L, "Wait!? Really?! yes"),      // terminator runs stay attached; bare tail kept
      (3L, "v1.2 is out. Next"),        // "v1.2" must NOT split (no whitespace after .)
      (4L, "NoTerminatorAtAll"),        // whole text = one sentence
      (5L, "End. ")                     // trailing space: empty tail dropped
    ).toDF("id", "t")
    val got = rows.select(col("id"),
        TextFunctions.sentences(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got(1L) === List("One.", "Two!", "Three?"))
    assert(got(2L) === List("Wait!?", "Really?!", "yes"))
    assert(got(3L) === List("v1.2 is out.", "Next"))
    assert(got(4L) === List("NoTerminatorAtAll"))
    assert(got(5L) === List("End."))
  }

  test("domainBlocklist: subdomain match, longest rule wins, case, null authority") {
    import spark.implicits._
    val urls = Seq(
      (1L, "http://Ads.Bad.Example.COM/x"),     // subdomain of bad.example.com, case-folded
      (2L, "https://bad.example.com"),           // exact match
      (3L, "http://ads.bad.example.com/y"),      // BOTH rules match → longest wins
      (4L, "http://good.example.com/z"),         // clean
      (5L, "mailto:user@bad.example.com"),       // no ://authority → null host
      (6L, "http://example.com/w")               // parent of a listed domain: NOT blocked
    ).toDF("id", "url")
    val bl = Seq("bad.example.com", "ads.bad.example.com").toDF("domain")
    val got = TextFunctions.domainBlocklist(urls, "id", col("url"), bl)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getBoolean(2), Option(r.getString(3))))).toMap
    assert(got(1L) === ((Some("ads.bad.example.com"), true, Some("ads.bad.example.com"))))
    assert(got(2L) === ((Some("bad.example.com"), true, Some("bad.example.com"))))
    assert(got(3L)._3 === Some("ads.bad.example.com")) // longest, not bad.example.com
    assert(got(4L) === ((Some("good.example.com"), false, None)))
    assert(got(5L) === ((None, false, None)))
    assert(got(6L) === ((Some("example.com"), false, None)))
  }

  test("marginMining suppresses hubs that raw cosine top-1 would pick") {
    import spark.implicits._
    // target space: a HUB close to everything (0.9 to both sources)
    // and two true matches (0.95 to exactly one source each, ~0 to
    // the other). Raw cosine picks the true pair anyway here, so make
    // the hub the raw winner for src 20: hub cos 0.97 vs true 0.95 —
    // margin must still pick the true pair because the hub's own kNN
    // neighborhood is uniformly high.
    def unit(xs: Double*): Seq[Float] = {
      val n = math.sqrt(xs.map(x => x * x).sum)
      xs.map(x => (x / n).toFloat)
    }
    val srcs = Seq(
      (10L, unit(1, 0, 0, 0)),
      (20L, unit(0, 1, 0, 0))).toDF("id", "v")
    val hub = unit(0.15, 0.97, 0.1, 0.1) // near-parallel to src 20, high on others
    val tgts = Seq(
      (1L, unit(0.95, 0, 0.312, 0)),     // true match for src 10
      (2L, unit(0, 0.95, 0, 0.312)),     // true match for src 20
      (3L, hub),
      (4L, unit(0.5, 0.5, 0.5, 0.5)),
      (5L, unit(0.4, 0.6, 0.4, 0.56))).toDF("id", "v")
    val mined = Similarity.marginMining(srcs, "id", "v", tgts, "id", "v",
      k = 3, marginMilliMin = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    // src 10's best by margin is its true match
    assert(mined(10L) === 1L)
    // src 20: hub 3 has the higher raw cosine, but margin ranks the
    // dedicated match above the everything-neighbor
    val raw = Similarity.bruteForceTopK(tgts, "id", "v",
      srcs.filter(col("id") === 20L), "id", "v", k = 1, excludeSelf = false)
      .collect().head.getLong(1)
    assert(raw === 3L, "fixture must make the hub the raw-cosine winner")
    assert(mined(20L) === 2L)
  }
}
