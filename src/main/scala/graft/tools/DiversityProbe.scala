package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: A/B the ngramDiversity expand — distinct-counting the
  * gram STRING (current) vs distinct-counting `xxhash64(gram)` built
  * map-side (the expand shuffle then carries 8-byte longs instead of
  * full gram strings). Interleaved rounds, same JVM; also verifies the
  * two forms return identical rows on this data (collision-free). */
object DiversityProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.TextFunctions

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val toks = TextFunctions.tokens(col("text"))
    val n = 2

    def gramsOf(g: org.apache.spark.sql.Column) = docs.select(col("source"),
      explode(transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(n))))).as("__g"))
      .select(col("source"), g)

    def agg(base: org.apache.spark.sql.DataFrame) = base
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"), countDistinct(col("__k")).as("n_distinct"))
      .withColumn("diversity",
        round(col("n_distinct").cast("double") / col("n_grams"), 6))

    def stringForm() = agg(gramsOf(col("__g").as("__k"))).collect()
    def hashedForm() = agg(gramsOf(xxhash64(col("__g")).as("__k"))).collect()

    // identical output on this data (no 64-bit collisions)
    val a = stringForm().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    val b = hashedForm().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    println(s"forms identical: ${a == b}")

    val iters = 7
    val ts = Array.fill(2)(collection.mutable.ArrayBuffer.empty[Double])
    for (_ <- 1 to iters) {
      var t0 = System.nanoTime(); stringForm(); ts(0) += (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime(); hashedForm(); ts(1) += (System.nanoTime() - t0) / 1e9
    }
    def stats(x: Seq[Double]) = f"min=${x.min}%.3f median=${x.sorted.apply(x.size / 2)}%.3f"
    println(s"string form: ${stats(ts(0).toSeq)}  runs=${ts(0).map(t => f"$t%.3f").mkString(",")}")
    println(s"hashed form: ${stats(ts(1).toSeq)}  runs=${ts(1).map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
