package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: stage-by-stage timing of the minhash pipeline. */
object TimeProbe {
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
    time("fused signatures (expr)")(
      Dedup.minhashSignaturesFused(docs, "doc_id", col("text"), 5, 128)
        .write.format("noop").mode("overwrite").save())
    time("fused signatures again")(
      Dedup.minhashSignaturesFused(docs, "doc_id", col("text"), 5, 128)
        .write.format("noop").mode("overwrite").save())
    val sigF = time("checkpointed fused sig") {
      val s = Dedup.minhashSignaturesFused(docs, "doc_id", col("text"), 5, 128)
        .localCheckpoint()
      s.count(); s
    }
    time("banded narrow self-join + distinct") {
      val banded = sigF.select(col("__id"),
        explode(Dedup.lshBands(col("__sig"), 128, 16)).as("__b"))
      val l = banded.select(col("__b").as("b_a"), col("__id").as("id_a"))
      val r = banded.select(col("__b").as("b_b"), col("__id").as("id_b"))
      val n = l.join(r, col("b_a") === col("b_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct().count()
      println(s"  candidates=$n")
    }
    time("bucket-grouped pair gen") {
      val banded = sigF.select(col("__id"),
        explode(Dedup.lshBands(col("__sig"), 128, 16)).as("__b"))
      val buckets = banded.groupBy(col("__b"))
        .agg(sort_array(collect_list(col("__id"))).as("ids"))
        .where(size(col("ids")) >= 2)
      val n = buckets.select(explode(flatten(transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
            b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
        .select(col("p.id_a"), col("p.id_b")).distinct().count()
      println(s"  candidates=$n")
    }
    time("full pairs (cap=0)")(Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 128, 16, 0.8,
        maxBucketSize = 0)
      .write.format("noop").mode("overwrite").save())
    time("full pairs (cap=1000)")(Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 128, 16, 0.8,
        maxBucketSize = 1000)
      .write.format("noop").mode("overwrite").save())
    time("verified pairs (cap=0)")(
      Dedup.minhashLshPairsVerified(docs, "doc_id", "text", 5, 128, 16, 0.8, 0.9,
        maxBucketSize = 0)
      .write.format("noop").mode("overwrite").save())
    import graft.functions.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count()
    val cents = time("ivf train")(
      Similarity.trainIvfCentroids(emb, "embedding", k = 16, iters = 3))
    time("ivf probe")(
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
          cents, nprobe = 16, k = 5)
        .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
