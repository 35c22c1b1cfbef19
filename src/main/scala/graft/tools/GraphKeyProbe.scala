package graft.tools

import org.apache.spark.sql.functions._

/** r15 probe: how much of the triangle-family cost is the STRING key
  * tax? canonicalEdges casts endpoints to string before the distinct /
  * degree / adjacency machinery; for integral inputs (the co-purchase
  * graph: l_partkey longs) the same pipeline on LONG keys shuffles
  * half the bytes and compares 8-byte words instead of UTF-8 byte
  * strings. Times each stage on both key types, alternating order.
  * Usage: runMain graft.tools.GraphKeyProbe <sfDir> [iters]
  */
object GraphKeyProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val li = graft.sources.GraftIO.readTable(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    def pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
    def canonStr = pairs
      .select(least($"u".cast("string"), $"v".cast("string")).as("__u"),
        greatest($"u".cast("string"), $"v".cast("string")).as("__v"))
      .distinct()
    def canonLong = pairs
      .select(least($"u", $"v").as("__u"), greatest($"u", $"v").as("__v"))
      .distinct()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup
    noop(canonStr); noop(canonLong)
    for (i <- 1 to iters) {
      // alternate order within each round (registry methodology rule)
      val sides: Seq[(String, () => Unit)] =
        if (i % 2 == 1) Seq(
          "str  canon+distinct" -> (() => noop(canonStr)),
          "long canon+distinct" -> (() => noop(canonLong)),
          "str  degree" -> (() => noop(canonStr.select($"__u".as("n"))
            .union(canonStr.select($"__v".as("n"))).groupBy("n").count())),
          "long degree" -> (() => noop(canonLong.select($"__u".as("n"))
            .union(canonLong.select($"__v".as("n"))).groupBy("n").count())),
          "str  adjacency" -> (() => noop(canonStr.groupBy($"__u")
            .agg(sort_array(collect_list($"__v"))))),
          "long adjacency" -> (() => noop(canonLong.groupBy($"__u")
            .agg(sort_array(collect_list($"__v"))))))
        else Seq(
          "long canon+distinct" -> (() => noop(canonLong)),
          "str  canon+distinct" -> (() => noop(canonStr)),
          "long degree" -> (() => noop(canonLong.select($"__u".as("n"))
            .union(canonLong.select($"__v".as("n"))).groupBy("n").count())),
          "str  degree" -> (() => noop(canonStr.select($"__u".as("n"))
            .union(canonStr.select($"__v".as("n"))).groupBy("n").count())),
          "long adjacency" -> (() => noop(canonLong.groupBy($"__u")
            .agg(sort_array(collect_list($"__v"))))),
          "str  adjacency" -> (() => noop(canonStr.groupBy($"__u")
            .agg(sort_array(collect_list($"__v"))))))
      sides.foreach { case (l, f) => time(s"round$i $l")(f()) }
    }
    spark.stop()
  }
}
