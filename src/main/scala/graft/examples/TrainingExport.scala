package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Corpus, TextFunctions}
import graft.sources.GraftIO

/** The EXPORT half of the pipeline — [[CurationPipeline]] decides what
  * survives; this example turns survivors into what a trainer actually
  * reads, exercising the model-artifact and ordering seams end to end:
  *
  *  1. train a BPE merges table ON the curated corpus
  *     ([[TextFunctions.trainBpeMerges]]) and persist it as parquet
  *     ([[TextFunctions.bpeMergesToTable]]) — the tokenizer artifact
  *     ships WITH the data it was fit on;
  *  2. stamp every doc with its true subword count under that table
  *     ([[TextFunctions.bpeTokenCount]] — budgets in real units, not
  *     the whitespace proxy);
  *  3. interleave sources proportionally
  *     ([[Corpus.interleaveByWeights]]) so every prefix of the export
  *     holds sources at their target mix — the epoch-free curriculum
  *     order;
  *  4. write range-partitioned by the interleave key
  *     ([[GraftIO.writeSortedParquet]]) so shard k holds the k-th
  *     slice of the global order and a sequential reader replays it.
  *
  * Pure composition — no logic lives here (spec-asserted: the written
  * shards reassemble to the interleave order, and reloading the
  * persisted merges reproduces the stamped token counts). */
object TrainingExport {

  /** Runs the export; returns the ordered export frame (CACHED — the
    * range write consumes it twice for boundary sampling + shuffle,
    * and the caller's next action would otherwise re-run the
    * O(merges · doc-length) BPE stamp a third time; unpersist when
    * done). The merges table lands at `outDir`/merges.parquet, the
    * data at `outDir`/data. Training-loop checkpoint blocks are swept
    * before returning (`Dedup.releaseMaterialized` — repeated exports
    * in a long-lived session must not accumulate pinned vocab
    * tables). */
  def export(docs: DataFrame, outDir: String,
             weights: Map[String, Double],
             numMerges: Int = 64,
             shards: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val merges = TextFunctions.trainBpeMerges(docs, col("text"), numMerges)
    graft.functions.Dedup.releaseMaterialized(spark)
    TextFunctions.bpeMergesToTable(spark, merges)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/merges.parquet")
    val stamped = docs.withColumn("n_bpe_tokens",
      TextFunctions.bpeTokenCount(col("text"), merges))
    val ordered = Corpus.interleaveByWeights(stamped, "source", "doc_id", weights)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    GraftIO.writeSortedParquet(ordered, s"$outDir/data",
      Seq("ikey", "source", "pos"), numShards = shards)
    ordered
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-export")
    val spark = graft.GraftSession.build(graft.GraftSession.Config(
      master = "local[4]", shufflePartitions = 4))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    export(docs, outDir, weights = Map("src0" -> 2.0), numMerges = 32)
    println(s"exported to $outDir")
    spark.stop()
  }
}
