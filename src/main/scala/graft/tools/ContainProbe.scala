package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: stage-by-stage timing of the containment-pairs pipeline. */
object ContainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.GraftIO.readTable(spark, sfDir, "documents")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    time("warmup count")(docs.count())
    val n = 3
    val minContainment = 0.8
    def toks(t: org.apache.spark.sql.Column) =
      filter(split(t, "\\s+"), x => length(x) > 0)
    val sets_h = Dedup.materializeLazily(
      docs.where(size(toks(col("text"))) >= n)
        .select(col("doc_id").as("__gid"),
          Dedup.tokenShingleHashes(col("text"), n).as("__hs")))
    time("sets_h materialize")(sets_h.count())
    val g = sets_h.select(col("__gid"), explode(col("__hs")).as("__g"))
    val dfreq = g.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    val ranked = g.join(dfreq, "__g")
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__gid")).orderBy(col("__df"), col("__g"))))
    val prefixLen = size(col("__hs")) -
      floor(lit(minContainment) * size(col("__hs"))).cast("int") + lit(1)
    val pref = ranked
      .join(sets_h.select(col("__gid"), prefixLen.as("__pl")), "__gid")
      .where(col("__r") <= col("__pl"))
      .select(col("__gid").as("__pid"), col("__g"))
    time("prefix")(pref.write.format("noop").mode("overwrite").save())
    val cand = pref.join(g.select(col("__gid").as("__iid"), col("__g")), "__g")
      .where(col("__pid") =!= col("__iid"))
      .select(col("__pid").as("id_a"), col("__iid").as("id_b"))
      .distinct()
    val candM = Dedup.materializeLazily(cand)
    println(s"candidates: ${time("cand materialize")(candM.count())} rows")
    val ids = candM.select(col("id_a").as("__cid"))
      .union(candM.select(col("id_b").as("__cid"))).distinct()
    val sets = docs.join(ids, col("doc_id") === col("__cid"), "left_semi")
      .select(col("doc_id").as("__s_id"),
        Dedup.tokenShingles(toks(col("text")), n).as("__set"))
    time("verify sets build")(sets.write.format("noop").mode("overwrite").save())
    val withA = candM.join(sets, col("id_a") === col("__s_id"))
      .select(col("id_a"), col("id_b"), col("__set").as("__set_a"))
    val out = withA.join(sets, col("id_b") === col("__s_id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__set_a"), col("__set"))).cast("double") /
          size(col("__set_a"))).as("containment"))
      .where(col("containment") >= minContainment)
    time("verify joins")(out.write.format("noop").mode("overwrite").save())
    time("full op")(
      Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.8)
        .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
