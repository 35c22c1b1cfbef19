package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: q_triangles is the only query that blew up 4-10x under
  * driver-box load in BOTH r10 (29-219 s) and r11 (110-158 s) while
  * reading 9-12 s on every quiet run. The r11 verdict named two
  * candidate mechanisms; probing both under an induced CPU hog:
  *
  *  (a) the two adjacency-projection broadcasts -- REFUTED by plan
  *      inspection before this probe ran: AQE canonicalizes the two
  *      projections identically and the executed plan carries ONE
  *      BroadcastExchange + a ReusedExchange (tools/TriExplain), so
  *      the adjacency is physically built and broadcast once already.
  *  (b) the chained materializeLazily localCheckpoints (oriented +
  *      adj) competing for block memory -- A/B'd here: the shipped
  *      form vs a probe-local variant whose adjacency is NOT
  *      checkpointed (it flows straight into the broadcast build;
  *      exchange reuse still makes it a single build).
  *
  * Run with an optional second arg "hog" to fork a 24-process busy
  * loop for the measured section (approximates the co-located load
  * the driver box shows). Ship-or-reject per the SimhashProbe
  * convention; outcome goes to bench/triangleprobe_r12.txt + the
  * CLAUDE.md registry. */
object TriangleLoadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hog = args.length > 1 && args(1) == "hog"
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.{Corpus, Dedup}

    // probe-local twin of triangleCountsIntersect WITHOUT the adj
    // localCheckpoint (orientation replicated: private in Corpus)
    def intersectNoAdjCkpt(edges: DataFrame, src: String, dst: String): DataFrame = {
      val e0 = edges.select(col(src).cast("string").as("__a"),
          col(dst).cast("string").as("__b"))
        .where(col("__a").isNotNull && col("__b").isNotNull &&
          col("__a") =!= col("__b"))
        .select(least(col("__a"), col("__b")).as("__u"),
          greatest(col("__a"), col("__b")).as("__v"))
        .distinct()
      val deg = e0.select(col("__u").as("__n"))
        .union(e0.select(col("__v").as("__n")))
        .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
      val oriented = Dedup.materializeLazily(e0
        .join(deg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
        .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
        .select(
          when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
            struct(col("__u").as("f"), col("__v").as("t")))
            .otherwise(struct(col("__v").as("f"), col("__u").as("t")))
            .as("__e"))
        .select(col("__e.f").as("__f"), col("__e.t").as("__t"))
        .join(deg.select(col("__n").as("__t"), col("__d").as("__dt")), "__t"))
      val adj = oriented.groupBy(col("__f"))
        .agg(sort_array(collect_list(col("__t"))).as("__ns"))
      oriented
        .join(broadcast(adj.select(col("__f").as("__jf"), col("__ns").as("__nf"))),
          col("__f") === col("__jf"))
        .join(broadcast(adj.select(col("__f").as("__jt"), col("__ns").as("__nt"))),
          col("__t") === col("__jt"))
        .select(explode({
          import org.apache.spark.sql.graft.Bridge
          Bridge.column(graft.plans.TriangleContrib(
            Bridge.expression(col("__nf")), Bridge.expression(col("__nt")),
            Bridge.expression(col("__f")), Bridge.expression(col("__t"))))
        }).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    }

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .localCheckpoint()
    println(s"co-purchase edges=${pairs.count()} hog=$hog")

    var hogProc: Option[Process] = None
    if (hog) {
      val spin = "import multiprocessing as mp\n" +
        "def b():\n  x=0\n  while True: x=(x*31+7)%1000003\n" +
        "ps=[mp.Process(target=b) for _ in range(24)]\n" +
        "[p.start() for p in ps]\n[p.join() for p in ps]\n"
      hogProc = Some(new ProcessBuilder("python3", "-c", spin).start())
      Thread.sleep(2000)
    }
    try {
      for (i <- 1 to 3) {
        time(s"shipped    (run $i)")(
          Corpus.triangleCountsIntersect(pairs, $"u", $"v")
            .write.format("noop").mode("overwrite").save())
        Dedup.releaseMaterialized(spark)
        time(s"noAdjCkpt  (run $i)")(
          intersectNoAdjCkpt(pairs, "u", "v")
            .write.format("noop").mode("overwrite").save())
        Dedup.releaseMaterialized(spark)
      }
    } finally hogProc.foreach(p => p.destroyForcibly())
    val a = Corpus.triangleCountsIntersect(pairs, $"u", $"v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val b = intersectNoAdjCkpt(pairs, "u", "v").orderBy("node")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    println(s"equal=${a == b} nodes=${a.size} triangles=${a.map(_._2).sum / 3}")
    spark.stop()
  }
}
