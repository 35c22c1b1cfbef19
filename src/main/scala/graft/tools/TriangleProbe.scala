package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: A/B of the two triangle-count forms on (a) the REAL
  * q_triangles workload (lineitem co-purchase graph at a given SF) and
  * (b) a planted dense fixture (random graph + embedded clique — the
  * regime where Σ outdeg² wedge materialization hurts most vs
  * triangle-proportional intersection output). Decides which form
  * backs q_triangles; outcome recorded in the triangleCounts Scaladoc
  * + CLAUDE.md registry. Also asserts the two labelings identical on
  * both graphs (exact operator — any divergence is a bug). */
object TriangleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.{Corpus, Dedup}
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // (a) the real workload: co-purchase pairs from lineitem
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .localCheckpoint()
    println(s"co-purchase edges=${pairs.count()}")
    for (i <- 1 to 3) {
      time(s"wedge     copurchase (run $i)")(
        Corpus.triangleCountsWedge(pairs, $"u", $"v")
          .write.format("noop").mode("overwrite").save())
      Dedup.releaseMaterialized(spark)
      time(s"intersect copurchase (run $i)")(
        Corpus.triangleCountsIntersect(pairs, $"u", $"v")
          .write.format("noop").mode("overwrite").save())
      Dedup.releaseMaterialized(spark)
    }
    val a = Corpus.triangleCountsWedge(pairs, $"u", $"v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val b = Corpus.triangleCountsIntersect(pairs, $"u", $"v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"copurchase_equal=${a == b} nodes=${a.size} " +
      s"triangles=${a.map(_._2).sum / 3}")
    // (b) planted dense fixture: G(4000, p≈0.004) + a 150-clique —
    // ~43k random edges + 11k clique edges; the clique alone holds
    // 551k triangles and drives Σ outdeg² into the millions
    val rnd = new scala.util.Random(42)
    val rand = (0 until 32000).map { _ =>
      val x = rnd.nextInt(4000); val y = rnd.nextInt(4000)
      (x.toLong, y.toLong)
    }.filter(e => e._1 != e._2)
    val clique = (0 until 150).flatMap(i => (i + 1 until 150).map(j =>
      (10000L + i, 10000L + j)))
    val dense = (rand ++ clique).toDF("u", "v")
      .repartition(32).localCheckpoint()
    println(s"dense edges=${dense.count()}")
    for (i <- 1 to 3) {
      time(s"wedge     dense (run $i)")(
        Corpus.triangleCountsWedge(dense, $"u", $"v")
          .write.format("noop").mode("overwrite").save())
      Dedup.releaseMaterialized(spark)
      time(s"intersect dense (run $i)")(
        Corpus.triangleCountsIntersect(dense, $"u", $"v")
          .write.format("noop").mode("overwrite").save())
      Dedup.releaseMaterialized(spark)
    }
    val da = Corpus.triangleCountsWedge(dense, $"u", $"v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val db = Corpus.triangleCountsIntersect(dense, $"u", $"v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"dense_equal=${da == db} nodes=${da.size} " +
      s"triangles=${da.map(_._2).sum / 3}")
    spark.stop()
  }
}
