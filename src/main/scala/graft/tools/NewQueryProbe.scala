package graft.tools


/** Dev tool: one-off timings of queries named on the command line at
  * an sf dir (default sf0.1) — 3 runs each after a warmup, min
  * reported. Used to vet additions to Bench's v2 tier. */
object NewQueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_quality_model", "q_bigram_logprob", "q_snapshot_neardup",
      "q_pack_corpus", "q_bpe_tokens", "q_lang_id_ngram", "q_mix_upsample")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val runs = (0 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(1) // first run = warmup
      println(f"$n%-22s min=${runs.min}%6.3f s  runs=${runs.map(r => f"$r%.3f").mkString(",")}")
      graft.functions.Dedup.releaseMaterialized(spark)
    }
    spark.stop()
  }
}
