package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the operators of this engine composed
  * in the order a production pre-training pipeline runs them. Each
  * stage is individually oracle-verified (see COVERAGE.md); this
  * facade is the integration story — one call from raw documents to a
  * training-ready corpus, all stages optional.
  *
  * Stage order matters and is the standard one:
  *  1. NFC-normalize (byte-canonical text BEFORE any hashing),
  *  2. PII scrub (never hash/emit raw PII),
  *  3. optional line-level cleanup (C4 posture: fix text BEFORE
  *     doc-level scoring/hashing sees it) — intra-document repetition
  *     removal and/or corpus-wide boilerplate line removal,
  *  4. quality floor (cheap filters first — shrink before the
  *     expensive pairwise stages),
  *  5. exact dedup (md5 — removes the bulk duplicates cheaply),
  *  6. near-dedup (MinHash-LSH pairs → connected components → keep
  *     each cluster's min id),
  *  7. benchmark decontamination (drop docs overlapping the eval set),
  *  8. deterministic train/val split (hash bucket).
  *
  * Every stage is a narrow DataFrame transform: nothing here collects,
  * and the only shuffles are the ones the underlying operators
  * declare.
  */
object CurationPipeline {

  /** `intraDocDedup`: drop repeated lines WITHIN each document
    * ([[Dedup.intraDocLineDedup]]). `lineDedupMinOccurrences`: when
    * set, drop every line occurring at least that often corpus-wide
    * ([[Dedup.lineDedup]], scale-safe shuffle anti-join default).
    * Both default off — line-level cleanup is corpus-dependent
    * (prose yes, code/poetry no).
    */
  final case class Config(
      minQualityMilli: Long = 400,
      stopwords: Seq[String] = Seq("the", "and", "of", "to", "is"),
      nearDupJaccardPpm: Long = 800000L,
      contaminationMaxHits: Long = 0,
      valPercent: Int = 10,
      intraDocDedup: Boolean = false,
      lineDedupMinOccurrences: Option[Long] = None,
      lineSep: String = "\n")

  /** Run the full pipeline. `benchmark` is the eval set to
    * decontaminate against (None = skip the stage). Returns the kept
    * corpus as (doc_id, text, quality_milli, split).
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             benchmark: Option[DataFrame] = None,
             cfg: Config = Config()): DataFrame = {
    import graft.functions.TextFunctions._
    val base = docs.select(col(idCol).as("doc_id"),
      graft.plans.NfcNormalize.nfc_normalize(col(textCol)).as("text"))
    val scrubbed = base.withColumn("text", redactPii(col("text")))
    // optional line-level cleanup, in C4 order: in-page repeats first,
    // then the corpus-wide boilerplate census — both BEFORE quality
    // scoring and hashing so downstream stages see the cleaned text
    val intraClean =
      if (!cfg.intraDocDedup) scrubbed
      else Dedup.intraDocLineDedup(scrubbed, "doc_id", col("text"), cfg.lineSep)
        .select(col("doc_id"), col("clean_text").as("text"))
    val lineClean = cfg.lineDedupMinOccurrences match {
      case None => intraClean
      case Some(m) =>
        Dedup.lineDedup(intraClean, "doc_id", col("text"), m, cfg.lineSep)
          .select(col("doc_id"), col("clean_text").as("text"))
    }
    val scored = lineClean
      .withColumn("quality_milli", qualityScoreMilli(col("text"), cfg.stopwords))
      .filter(col("quality_milli") >= cfg.minQualityMilli)
    // exact dedup: keep each content hash's min doc_id. The surviving
    // (doc_id, text, quality) projection is the pipeline's expensive
    // prefix — NFC + two regex scrubs + scoring over the whole corpus
    // — and the plan references it four times (the near-dup pair
    // graph, the cluster anti-join, the decontamination scan, the
    // final select). PERSIST it so the prefix runs one corpus pass,
    // not four (round 5 measured the unpersisted form re-deriving it
    // 3-4× = most of the composed query's 17.9 s). The keeper is
    // picked with a min-over-hash-partition window rather than
    // [[Dedup.exact]]'s agg + semi-join so the CACHE BUILD itself
    // runs the prefix once, not once per join side — same shuffle
    // (by content hash), same keep-min-id semantics, one pass. The
    // cache is registered with [[CacheRegistry]]; it must outlive
    // this call (the returned DataFrame reads it), so the CALLER
    // releases it — CacheRegistry.releaseAll() after the action.
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val exact = CacheRegistry.persist(
      scored
        .withColumn("__keep", min("doc_id").over(byHash))
        .filter(col("doc_id") === col("__keep")).drop("__keep"))
    // near-dedup: pair graph -> clusters -> drop every non-keeper
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", col("text"),
      minJaccardPpm = cfg.nearDupJaccardPpm)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("v") =!= col("lbl")).select(col("v").as("doc_id"))
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    decontaminateAndSplit(deduped, benchmark, textCol, cfg)
  }

  /** DROP-REASON AUDIT — the "why did my document disappear" table:
    * one row per input document attributing it to the stage that
    * removed it (`quality`, `exact_dup`, `near_dup`, `contaminated`)
    * or to its kept split (`kept_train` / `kept_val`). The #1
    * operational question for a curation pipeline, answered as a
    * DataFrame the same engine run produces — not by re-running
    * stages ad hoc. The line-cleanup stages edit text but never drop
    * documents, so they contribute no audit rows.
    *
    * Same lineage as [[curate]] (one persisted expensive prefix, one
    * persisted exact-dedup projection — [[CacheRegistry]] lifecycle,
    * caller releases after the action); the extra cost over curate is
    * one anti-join per labeled stage over funnel-shrunk id sets.
    * Returns (doc_id, stage).
    */
  def curateAudit(docs: DataFrame, idCol: String, textCol: String,
                  benchmark: Option[DataFrame] = None,
                  cfg: Config = Config()): DataFrame = {
    import graft.functions.TextFunctions._
    val base = docs.select(col(idCol).as("doc_id"),
      graft.plans.NfcNormalize.nfc_normalize(col(textCol)).as("text"))
    val scrubbed = base.withColumn("text", redactPii(col("text")))
    val intraClean =
      if (!cfg.intraDocDedup) scrubbed
      else Dedup.intraDocLineDedup(scrubbed, "doc_id", col("text"), cfg.lineSep)
        .select(col("doc_id"), col("clean_text").as("text"))
    val lineClean = cfg.lineDedupMinOccurrences match {
      case None => intraClean
      case Some(m) =>
        Dedup.lineDedup(intraClean, "doc_id", col("text"), m, cfg.lineSep)
          .select(col("doc_id"), col("clean_text").as("text"))
    }
    val scoredAll = CacheRegistry.persist(lineClean
      .withColumn("quality_milli", qualityScoreMilli(col("text"), cfg.stopwords)))
    val lowQ = scoredAll.filter(col("quality_milli") < cfg.minQualityMilli)
      .select(col("doc_id"), lit("quality").as("stage"))
    val scored = scoredAll.filter(col("quality_milli") >= cfg.minQualityMilli)
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val exact = CacheRegistry.persist(
      scored
        .withColumn("__keep", min("doc_id").over(byHash))
        .filter(col("doc_id") === col("__keep")).drop("__keep"))
    val exactDup = scored.join(exact.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("exact_dup").as("stage"))
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", col("text"),
      minJaccardPpm = cfg.nearDupJaccardPpm)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("v") =!= col("lbl")).select(col("v").as("doc_id"))
    val nearDup = losers.select(col("doc_id"), lit("near_dup").as("stage"))
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    val (contamRows, clean) = benchmark match {
      case Some(b) =>
        val contaminated = Dedup
          .ngramContamination(deduped, "doc_id", col("text"), b, col(textCol))
          .filter(col("n_hit") > cfg.contaminationMaxHits)
          .select("doc_id")
        (contaminated.select(col("doc_id"), lit("contaminated").as("stage")),
          deduped.join(contaminated, Seq("doc_id"), "left_anti"))
      case None =>
        (docs.sparkSession.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit("").as("stage")).limit(0), deduped)
    }
    val kept = clean.select(col("doc_id"),
      concat(lit("kept_"),
        when(pmod(xxhash64(col("doc_id")), lit(100)) < 100 - cfg.valPercent, "train")
          .otherwise("val")).as("stage"))
    lowQ.unionByName(exactDup).unionByName(nearDup)
      .unionByName(contamRows).unionByName(kept)
  }

  /** INCREMENTAL daily run: curate only the `incoming` increment
    * against an `existing` ALREADY-CURATED corpus — the existing
    * 100 TB is never re-read beyond its content hashes and LSH
    * signatures. Contract: `existing`'s text column holds curate's
    * output text (already NFC-normalized and scrubbed), so content
    * comparison is byte-meaningful; `incoming` is raw and gets the
    * full prefix. Stages after the shared prefix:
    *  5a. exact dedup WITHIN the increment (min-id keeper),
    *  5b. exact anti-join AGAINST existing ([[Dedup.incrementalExact]]),
    *  6a. near-dedup WITHIN the increment (LSH -> CC -> keep min),
    *  6b. near-dedup AGAINST existing ([[Dedup.minhashLshPairsAcross]]
    *      — drop any incoming doc with an existing near-duplicate),
    *  7-8. decontamination + split, same as [[curate]].
    * Within-increment dedup runs BEFORE the cross-corpus stages so
    * the (usually much larger) existing side joins against an
    * already-shrunk increment.
    */
  def curateIncremental(incoming: DataFrame, existing: DataFrame,
                        idCol: String, textCol: String,
                        benchmark: Option[DataFrame] = None,
                        cfg: Config = Config()): DataFrame = {
    val deduped = curate(incoming, idCol, textCol, benchmark = None, cfg)
      .select(col("doc_id"), col("text"), col("quality_milli"))
    val ex = existing.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val freshExact = Dedup.incrementalExact(deduped, ex, "doc_id", col("text"))
    val crossDup = Dedup.minhashLshPairsAcross(freshExact, ex, "doc_id", col("text"),
        minJaccardPpm = cfg.nearDupJaccardPpm)
      .select(col("inc_id").as("doc_id")).distinct()
    decontaminateAndSplit(freshExact.join(crossDup, Seq("doc_id"), "left_anti"),
      benchmark, textCol, cfg)
  }

  /** Shared tail: benchmark decontamination (optional) + the
    * deterministic train/val hash split.
    */
  private def decontaminateAndSplit(deduped: DataFrame,
                                    benchmark: Option[DataFrame],
                                    textCol: String, cfg: Config): DataFrame = {
    val clean = benchmark match {
      case Some(b) =>
        val contaminated = Dedup
          .ngramContamination(deduped, "doc_id", col("text"), b, col(textCol))
          .filter(col("n_hit") > cfg.contaminationMaxHits)
          .select("doc_id")
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
      case None => deduped
    }
    clean.withColumn("split",
      when(pmod(xxhash64(col("doc_id")), lit(100)) < 100 - cfg.valPercent, "train")
        .otherwise("val"))
  }
}
