package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: A/B of the two connected-components implementations on
  * (a) the REAL near-dup pair set at a given SF — the workload the
  * oracle queries run — and (b) a synthetic deep-chain graph, the
  * O(diameter)-vs-O(log n) separation case. Decides which form backs
  * q_dedup_clusters; see the Scaladoc on connectedComponentsStar for
  * the recorded outcome. */
object CCProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashLshPairsVerified(docs, "doc_id", "text",
      n = 5, k = 128, bands = 32, minJaccard = 0.9, maxBucketSize = 0)
      .localCheckpoint()
    println(s"near-dup pairs=${pairs.count()}")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (i <- 1 to 3) {
      time(s"propagation neardup (run $i)")(
        Dedup.connectedComponents(pairs).write.format("noop").mode("overwrite").save())
      time(s"star        neardup (run $i)")(
        Dedup.connectedComponentsStar(pairs).write.format("noop").mode("overwrite").save())
    }
    // sanity: identical labelings on the real pair set
    val a = Dedup.connectedComponents(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Dedup.connectedComponentsStar(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    println(s"labelings_equal=${a == b} nodes=${a.size}")
    // deep chains: 200 chains x 100 nodes (diameter 99) — propagation
    // needs ~100 rounds, star ~log(100)
    val chains = (0 until 200).flatMap { c =>
      val base = c * 1000L
      (0 until 99).map(i => (base + i, base + i + 1))
    }.toDF("id_a", "id_b").repartition(32).localCheckpoint()
    for (i <- 1 to 2) {
      time(s"propagation chains (run $i)")(
        Dedup.connectedComponents(chains, maxIter = 150)
          .write.format("noop").mode("overwrite").save())
      time(s"star        chains (run $i)")(
        Dedup.connectedComponentsStar(chains)
          .write.format("noop").mode("overwrite").save())
      Dedup.releaseMaterialized(spark)
    }
    spark.stop()
  }
}
