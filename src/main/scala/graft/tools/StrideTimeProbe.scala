package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: A/B the two-offset repeated-block strip — pass 2 consumes
  * its input ~5x (units x3 + stub union + reassembly join), so the
  * nested form recomputes the whole pass-1 plan each time. Measures
  * the chained-plan form against checkpointing the pass-1 output. */
object StrideTimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    time("warmup count")(docs.count())
    for (i <- 1 to 3) {
      time(s"[$i] chained two-offset (current)")(
        Dedup.stripRepeatedBlocks(docs, "doc_id", "text", 10, 2, Seq(0, 5))
          .write.format("noop").mode("overwrite").save())
      time(s"[$i] checkpoint between passes") {
        val p1 = Dedup.stripRepeatedBlocks(docs, "doc_id", "text", 10, 2, Seq(0))
          .localCheckpoint(eager = false)
        Dedup.stripRepeatedBlocks(p1, "doc_id", "text", 10, 2, Seq(5))
          .write.format("noop").mode("overwrite").save()
      }
      Dedup.releaseMaterialized(spark)
    }
    spark.stop()
  }
}
