package graft.tools

import org.apache.spark.sql.functions._

/** r15 probe: co-purchase pair construction — lineitem self-join on
  * l_orderkey (two scans + join emitting C(k,2) rows) vs ONE groupBy
  * collecting the order's sorted items + in-place pair emission
  * (Dedup.pairsFromSorted, the LSH-bucket shape). Both feed the same
  * canonical distinct on LONG keys. Alternating order.
  */
object PairBuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val li = graft.sources.GraftIO.readTable(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    def viaJoin = {
      val pairs = li.as("a").join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
        .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      pairs.select(least($"u", $"v").as("__u"), greatest($"u", $"v").as("__v"))
        .distinct()
    }
    def viaCollect = {
      val pairs = li.groupBy($"l_orderkey")
        .agg(sort_array(collect_list($"l_partkey")).as("__is"))
        .select(explode(graft.functions.Dedup.pairsFromSortedPublic($"__is")).as("__p"))
        .select($"__p.id_a".as("u"), $"__p.id_b".as("v"))
      pairs.select(least($"u", $"v").as("__u"), greatest($"u", $"v").as("__v"))
        .distinct()
    }
    def weightedViaJoin = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("w")).where($"w" >= 2)
    def weightedViaCollect = li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_partkey")).as("__is"))
      .select(explode(graft.functions.Dedup.pairsFromSortedPublic($"__is")).as("__p"))
      .groupBy($"__p.id_a".as("u"), $"__p.id_b".as("v"))
      .agg(count(lit(1)).as("w")).where($"w" >= 2)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // equality check first (multiset as counts)
    val a = viaJoin.groupBy("__u", "__v").count()
    val b = viaCollect.groupBy("__u", "__v").count()
    println("canon diff rows: " + a.except(b).union(b.except(a)).count())
    val wa = weightedViaJoin
    val wb = weightedViaCollect
    println("weighted diff rows: " + wa.except(wb).union(wb.except(wa)).count())
    noop(viaJoin); noop(viaCollect)
    for (i <- 1 to iters) {
      val sides: Seq[(String, () => Unit)] =
        if (i % 2 == 1) Seq(
          "join    canon" -> (() => noop(viaJoin)),
          "collect canon" -> (() => noop(viaCollect)),
          "join    weighted" -> (() => noop(weightedViaJoin)),
          "collect weighted" -> (() => noop(weightedViaCollect)))
        else Seq(
          "collect canon" -> (() => noop(viaCollect)),
          "join    canon" -> (() => noop(viaJoin)),
          "collect weighted" -> (() => noop(weightedViaCollect)),
          "join    weighted" -> (() => noop(weightedViaJoin)))
      sides.foreach { case (l, f) => time(s"round$i $l")(f()) }
    }
    spark.stop()
  }
}
