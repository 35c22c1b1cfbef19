package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: profile the OPH minhash estimator against the exact
  * n-gram Jaccard pair set — banding recall (did every true pair
  * produce a candidate?) and the estimate margin over the
  * q_minhash_lsh minEstJaccard prefilter. Run per scheme change. */
object EstProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // "dump <sfDir> <outDir>": write the unfiltered candidate set to
    // parquet and exit — the exact pair set is cheaper to build in
    // DuckDB at sf0.1 than through the Spark quadratic oracle form,
    // so the recall comparison runs outside this JVM.
    if (args.headOption.contains("dump")) { dumpCandidates(args(1), args(2)); return }
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // all banding candidates with their estimates (no est prefilter)
    val cands = Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 128, 16,
        minEstJaccard = 0.0, maxBucketSize = 0)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .localCheckpoint()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.9)
      .select(col("id_a"), col("id_b"), col("jaccard")).localCheckpoint()
    val nTrue = exact.count()
    val joined = exact.join(cands, Seq("id_a", "id_b"), "left")
    val missed = joined.where(col("est_jaccard").isNull).count()
    val stats = joined.where(col("est_jaccard").isNotNull)
      .agg(min("est_jaccard"), expr("percentile(est_jaccard, 0.05)"),
        avg("est_jaccard")).head()
    println(s"true J>=0.9 pairs: $nTrue; banding misses: $missed")
    println(s"est over true pairs: min=${stats.get(0)} p05=${stats.get(1)} avg=${stats.get(2)}")
    val below = joined.where(col("est_jaccard") < 0.8)
      .select("id_a", "id_b", "jaccard", "est_jaccard").collect()
    println(s"true pairs with est < 0.8 (would be prefiltered): ${below.length}")
    below.take(20).foreach(r => println(s"  $r"))
    spark.stop()
  }

  def dumpCandidates(sfDir: String, outDir: String): Unit = {
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.functions.Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 128, 16,
        minEstJaccard = 0.0, maxBucketSize = 0)
      .coalesce(1).write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}
