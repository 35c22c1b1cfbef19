package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: simhash pigeonhole bucket-size distribution + A/B timing
  * of pairing shapes at a given SF. The chunk key is only
  * 64/(maxDist+1) bits wide and natural-text simhash bits are biased,
  * so bucket skew — not shuffle count — can dominate; this probe keeps
  * that measurable. */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxDist = 7
    val chunks = maxDist + 1
    val width = 64 / chunks
    val fp = Dedup.simhashFingerprintsFused(docs, "doc_id", col("text")).localCheckpoint()
    println(s"docs=${fp.count()}")
    val chunked = fp.select(
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftrightunsigned", col("__fp"), c * lit(width))
            .bitwiseAND(lit((1L << width) - 1)).as("cv")))).as("__c"),
      col("__id"))
    val sizes = chunked.groupBy(col("__c")).agg(count(lit(1)).as("n"))
    sizes.agg(count(lit(1)), max("n"), expr("percentile(n, 0.99)"),
        expr("percentile(n, 0.9)"), sum(col("n") * (col("n") - 1) / 2)).show(false)
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    for (i <- 1 to 2) {
      time(s"bucket form (run $i)")(
        Dedup.simhashPairsFromFp(fp, maxDist)
          .write.format("noop").mode("overwrite").save())
    }
    // variant A: single shuffle, hamming predicate fused INTO the pair
    // emission so per-bucket arrays hold only passing pairs
    val chunkedRs = fp.select(
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("ci"),
          call_function("shiftrightunsigned", col("__fp"), c * lit(width))
            .bitwiseAND(lit((1L << width) - 1)).as("cv")))).as("__c"),
      struct(col("__id").as("id"), col("__fp").as("fp")).as("__r"))
    def fusedPairs() = chunkedRs.groupBy(col("__c"))
      .agg(sort_array(collect_list(col("__r"))).as("__rs"))
      .where(size(col("__rs")) >= 2)
      .select(explode(flatten(transform(col("__rs"), (a, i) =>
        transform(
          filter(slice(col("__rs"), i + lit(2), size(col("__rs")) - i - lit(1)),
            b => b.getField("id") =!= a.getField("id") &&
              bit_count(a.getField("fp").bitwiseXOR(b.getField("fp"))) <= maxDist),
          b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            bit_count(a.getField("fp").bitwiseXOR(b.getField("fp"))).as("hamming"))))))
        .as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"), col("__p.hamming"))
      .distinct()
    for (i <- 1 to 2)
      time(s"fused-predicate bucket form (run $i)")(
        fusedPairs().write.format("noop").mode("overwrite").save())
    // variant B: the retired two-exchange self-join form
    def joinPairs() = {
      val l = chunkedRs.select(col("__c").as("c_a"), col("__r.id").as("id_a"),
        col("__r.fp").as("fp_a"))
      val r = chunkedRs.select(col("__c").as("c_b"), col("__r.id").as("id_b"),
        col("__r.fp").as("fp_b"))
      l.join(r, col("c_a") === col("c_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
        .where(col("hamming") <= maxDist)
        .distinct()
    }
    for (i <- 1 to 2)
      time(s"self-join form (run $i)")(
        joinPairs().write.format("noop").mode("overwrite").save())
    println(s"bucket rows=${Dedup.simhashPairsFromFp(fp, maxDist).count()} " +
      s"fused rows=${fusedPairs().count()} join rows=${joinPairs().count()}")
    spark.stop()
  }
}
