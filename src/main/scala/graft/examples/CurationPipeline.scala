package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, Dedup, TextFunctions}

/** End-to-end training-data curation walkthrough — the published
  * web-pipeline recipe (CCNet / Gopher / C4 / RefinedWeb shapes)
  * composed from graft's operators, with a [[Corpus.corpusStats]]
  * audit row logged after every stage (what a production pipeline
  * tracks as per-stage yield). Stages, in the canonical order:
  *
  *  0. (optional, `extractHtml`) raw-crawl HTML → text extraction —
  *     when the input is markup, every downstream signal assumes
  *     prose, so the tag strip runs before anything else;
  *  1. text cleanup (NFC, control/zero-width strip, whitespace),
  *     optionally followed by the jusText-lite boilerplate line strip
  *     (`boilerplateStopFrac` > 0 — local density rules, before any
  *     corpus-wide hashing);
  *  2. exact dedup (md5 text identity, keep min id);
  *  3. near-dup dedup: MinHash-LSH verified pairs → drop the higher
  *     id of each pair;
  *  4. repeated-line strip (corpus-wide C4-style boilerplate);
  *  5. heuristic quality + language gates (Gopher-signal shapes),
  *     optionally plus the full Gopher rule gate (`gopherGate`);
  *  6. benchmark decontamination (char n-gram overlap), optionally
  *     followed by DSIR selection toward a target corpus
  *     (`dsirTarget`/`dsirThreshold`) and a per-source quota cap
  *     (`maxPerSource`);
  *  7. PII scrub;
  *  8. (optional) temperature-scaled source balancing + global
  *     token-budget draw;
  *  9. fixed-budget sequence packing across documents.
  *
  * Every stage is the operator the oracle-checked queries exercise —
  * this example only sequences them; no logic lives here. Run on the
  * driver testdata:
  *   sbt "runMain graft.examples.CurationPipeline /root/testdata/sf0.001 /tmp/curated"
  */
object CurationPipeline {

  /** One audit row per stage: (stage, n_docs, n_tokens, …). */
  def audit(stage: String, docs: DataFrame): DataFrame =
    Corpus.corpusStats(docs, col("text"), col("source"))
      .withColumn("stage", lit(stage))

  /** The pipeline as a pure DataFrame function (spec-asserted). `docs`
    * needs (doc_id, text, source); `benchmark` needs (bench_id,
    * bench_text). Returns the packed curated corpus and the per-stage
    * audit rows. */
  def curate(docs: DataFrame, benchmark: DataFrame,
             minJaccard: Double = 0.9,
             minQuality: Double = 0.35,
             packBudget: Long = 512,
             mixAlpha: Double = 1.0,
             tokenBudget: Long = 0L,
             boilerplateStopFrac: Double = 0.0,
             gopherGate: Boolean = false,
             gopherMinWords: Int = 50,
             dsirTarget: Option[DataFrame] = None,
             dsirThreshold: Double = 0.0,
             maxPerSource: Int = 0,
             extractHtml: Boolean = false): (DataFrame, DataFrame) = {
    val sRaw = docs.select(col("doc_id"), col("text"), col("source"))

    // 0a. (optional) raw-crawl extraction: when `text` is markup,
    // htmlToText runs FIRST — every downstream signal (tokens,
    // hashes, line rules) assumes prose, not tags
    val s0 =
      if (extractHtml)
        sRaw.withColumn("text", TextFunctions.htmlToText(col("text")))
      else sRaw

    // 0b. text cleanup BEFORE any hashing — normalization changes md5
    // identities and shingle hashes, so it must precede dedup
    val sCleaned = s0.withColumn("text", TextFunctions.cleanText(col("text")))

    // 0c. (optional) jusText-lite boilerplate line strip — local
    // density rules, so it belongs before corpus-wide hashing too
    val sClean =
      if (boilerplateStopFrac > 0)
        // stripBoilerplate emits (id, clean_text, counts) — re-attach
        // source on the id (AQE broadcasts the narrow side)
        TextFunctions.stripBoilerplate(sCleaned, "doc_id", col("text"),
            minStopFrac = boilerplateStopFrac)
          .where(col("n_kept") >= 1)
          .join(sCleaned.select(col("doc_id"), col("source")), "doc_id")
          .select(col("doc_id"), col("clean_text").as("text"), col("source"))
      else sCleaned

    // 1. exact dedup — keep the smallest id of each identical text
    val s1 = graft.operators.Grouping.distinctByFirst(
        sClean.withColumn("__k", md5(col("text"))), Seq("__k"), Seq(col("doc_id")))
      .drop("__k")

    // 2. near-dup dedup via verified MinHash-LSH pairs
    val pairs = Dedup.minhashLshPairsVerified(s1, "doc_id", "text",
      n = 5, k = 128, bands = 16, minEstJaccard = 0.7, minJaccard = minJaccard)
    val s2 = Dedup.dropNearDups(s1, "doc_id", pairs)

    // 3. corpus-wide repeated-line strip (C4 boilerplate rule)
    val s3 = Dedup.stripRepeatedLines(s2, "doc_id", "text", minRepeats = 3)

    // 4. quality + language gates (optionally plus the full Gopher
    // rule set — q_gopher_filter's auditable flag struct)
    val s4a = s3
      .withColumn("__q", TextFunctions.qualityScore(col("text"), TextFunctions.tokens(col("text"))))
      .withColumn("__lang", TextFunctions.langId(TextFunctions.tokens(col("text"))))
      .where(col("__q") >= minQuality && col("__lang") === "en")
      .drop("__q", "__lang")
    val s4 =
      if (gopherGate)
        s4a.where(TextFunctions.gopherFlags(col("text"),
          TextFunctions.tokens(col("text")), minWords = gopherMinWords,
          minRequiredStopwords = 1)
          .getField("pass"))
      else s4a

    // 5. benchmark decontamination (char 5-grams, dominant-overlap rule)
    val s5 = Dedup.decontaminate(s4, "doc_id", "text",
      benchmark, "bench_id", "bench_text", n = 5, minOverlap = 0.5)

    // 5b. (optional) DSIR selection toward a target corpus — fit on
    // (target, current survivors), keep docs scoring >= threshold
    val s5b = dsirTarget match {
      case Some(tgt) =>
        val lrs = TextFunctions.dsirLogRatios(
          TextFunctions.fitHashedBucketCountsByMd5(tgt, col("text"), buckets = 512),
          TextFunctions.fitHashedBucketCountsByMd5(s5, col("text"), buckets = 512))
        s5.join(
          TextFunctions.dsirScoreByMd5(s5, "doc_id", col("text"), lrs)
            .where(col("dsir_score") >= dsirThreshold)
            .select(col("doc_id")),
          "doc_id")
      case None => s5
    }

    // 5c. (optional) per-source quota cap (deterministic hash order)
    val s5c =
      if (maxPerSource > 0)
        Corpus.capPerKeyByHash(s5b, Seq("source"), "doc_id", maxPerSource)
      else s5b

    // 6. PII scrub
    val s6 = s5c.withColumn("text", TextFunctions.redactPii(col("text")))

    // 7. (optional) balance sources toward the temperature target,
    // then draw down to the global token budget — the mixture
    // assembly step once the per-doc gates are done
    val s7 =
      if (mixAlpha < 1.0) Corpus.mixByTemperature(s6, "source", col("doc_id"), mixAlpha)
      else s6
    val s8 =
      if (tokenBudget > 0)
        Corpus.sampleToTokenBudget(s7, "doc_id",
          size(TextFunctions.tokens(col("text"))), tokenBudget)
      else s7

    // 8. pack the survivors into fixed-budget sequences
    val packed = TextFunctions.packCorpus(s8, col("doc_id"),
      size(TextFunctions.tokens(col("text"))), packBudget,
      shard = pmod(xxhash64(col("doc_id")), lit(8L)))

    val audits = (Seq("0_raw" -> s0, "1_clean" -> sClean, "2_exact_dedup" -> s1,
        "3_near_dedup" -> s2, "4_line_strip" -> s3, "5_gates" -> s4,
        "6_decontaminated" -> s5) ++
        (if (dsirTarget.nonEmpty) Seq("6b_dsir" -> s5b) else Nil) ++
        (if (maxPerSource > 0) Seq("6c_capped" -> s5c) else Nil) ++
        (if (mixAlpha < 1.0) Seq("7_mixed" -> s7) else Nil) ++
        (if (tokenBudget > 0) Seq("8_budgeted" -> s8) else Nil))
      .map { case (n, df) => audit(n, df) }
      .reduce(_ unionByName _)
    (packed, audits)
  }

  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_curated")
    val spark = graft.GraftSession.build(graft.GraftSession.Config(
      shufflePartitions = 32))
    val docs = graft.sources.GraftIO.readTable(spark, in, "documents")
    // stand-in benchmark: every 50th doc (the q_decontaminate fixture rule)
    val benchmark = docs.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
    val (packed, audits) = curate(docs, benchmark)
    audits.orderBy("stage").show(truncate = false)
    graft.sources.GraftIO.writeParquet(packed, out)
    println(s"curated sequences written to $out")
    spark.stop()
  }
}
