package graft.tools

import org.apache.spark.sql.functions._

/** r16 probe for the PPJoin positional filter (VERDICT item 1): the
  * candidate stage is eagerly checkpointed inside jaccardPairsCore, so
  * the final frame's formatted explain cannot show the added filter —
  * this probe explains and COUNTS the real candidate plan
  * (Dedup.jaccardCandidates, the exact code the core materializes)
  * with and without the positional filter, on the q_jaccard_exact
  * configuration (documents, 5-gram, t = 0.9) and the
  * q_basket_jaccard shape (baskets, t = 0.2).
  *
  * Usage: runMain graft.tools.JaccardProbe <sfDir>
  */
object JaccardProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup

    val docs = graft.sources.GraftIO.readTable(spark, dir, "documents")
    val sets_h = docs
      .select(col("doc_id").as("__jid"),
        Dedup.shingleHashes(col("text"), 5).as("__hs"))
      .where(col("__hs").isNotNull)

    // q_basket_jaccard shape: order baskets at t = 0.2
    val li = graft.sources.GraftIO.readTable(spark, dir, "lineitem")
    val baskets = li
      .groupBy(col("l_orderkey"))
      .agg(array_distinct(collect_list(col("l_partkey"))).as("items"))
      .select(col("l_orderkey").as("__jid"),
        array_distinct(transform(array_compact(col("items")),
          e => xxhash64(e))).as("__hs"))
      .where(col("__hs").isNotNull && size(col("__hs")) > 0)

    def run(label: String, sh: org.apache.spark.sql.DataFrame,
            t: Double, blockBy: Option[String] = None,
            plan: Boolean = true): Unit = {
      for (positional <- Seq(false, true)) {
        val cand = Dedup.jaccardCandidates(sh, t, 0, blockBy, positional)
        val t0 = System.nanoTime()
        val n = cand.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$label positional=$positional: $n%d candidates, $dt%.2f s")
      }
      if (plan) {
        println(s"--- $label candidate plan (positional=true) ---")
        println(Dedup.jaccardCandidates(sh, t, 0, blockBy, positional = true)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }
    run("jaccard_exact(docs,t=0.9)", sets_h, 0.9)
    run("basket(orders,t=0.2)", baskets, 0.2)
    // q_ngram_jaccard config: 3-grams, t=0.65, blocked by source
    val sets3 = docs
      .select(col("doc_id").as("__jid"),
        Dedup.shingleHashes(col("text"), 3).as("__hs"),
        col("source").as("__blk"))
      .where(col("__hs").isNotNull)
    run("ngram(docs,3g,t=0.65,blk=source)", sets3, 0.65,
      blockBy = Some("source"), plan = false)
    spark.stop()
  }
}
