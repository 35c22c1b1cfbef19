package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (r12 verdict item 7): the r12 driver bench showed one-off
  * run-1/run-2 spikes on q_nbr_degree ([28.5, 26.9, 4.4] s),
  * q_label_prop (29.7) and q_ppr (61.2) — almost certainly the
  * documented box-load noise, but the triangles episode (r10-r12) hid
  * a REAL mechanism (serial localCheckpoint I/O under load) in exactly
  * this pattern for two rounds. A/B both suspects under an induced
  * 24-process CPU hog, the TriangleLoadProbe recipe:
  *
  *  (a) q_nbr_degree: `avgNeighborDegree` materializeLazily-checkpoints
  *      the canonical edge list, which is consumed 3× (degree agg + the
  *      two symmetric projections). Probe twin drops the checkpoint —
  *      if AQE exchange reuse covers the reuse (the triangles outcome),
  *      the checkpoint is pure load-fragility; if the distinct
  *      recomputes 3×, it's load-bearing.
  *  (b) q_ppr: the per-round rank checkpoints are load-bearing BY
  *      DESIGN (flat lineage across rounds — no variant to strip), so
  *      the probe only measures shipped-under-hog vs shipped-quiet to
  *      classify the 61.2 s driver reading as mechanism or noise.
  *
  * Run: `runMain graft.tools.GraphLoadProbe [sfDir] [hog]`.
  * Ship-or-reject per the SimhashProbe convention; outcome →
  * bench/graphloadprobe_r13.txt + the CLAUDE.md registry. */
object GraphLoadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hog = args.length > 1 && args(1) == "hog"
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.{Corpus, Dedup}

    // probe-local twin of avgNeighborDegree WITHOUT the canonical-edge
    // checkpoint (the edge list flows into all three consumers raw)
    def nbrDegreeNoCkpt(edges: DataFrame, src: String, dst: String): DataFrame = {
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
      val nb = e0.select(col("__u").as("__z"), col("__v").as("__w"))
        .union(e0.select(col("__v").as("__z"), col("__u").as("__w")))
      nb.join(deg.select(col("__n").as("__w"), col("__d").as("__dw")), "__w")
        .groupBy(col("__z"))
        .agg(count(lit(1)).as("degree"), sum(col("__dw")).as("nbr_degree_sum"))
        .select(col("__z").as("node"), col("degree"), col("nbr_degree_sum"),
          (col("nbr_degree_sum").cast("double") / col("degree").cast("double"))
            .as("avg_neighbor_degree"))
    }

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .localCheckpoint()
    val seeds = li.where($"l_partkey" % 13 === 0)
      .select(concat(lit("p"), $"l_partkey".cast("string")).as("seed"))
      .localCheckpoint()
    println(s"co-purchase edge rows=${pairs.count()} hog=$hog")

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
        time(s"nbr shipped   (run $i)")(
          Corpus.avgNeighborDegree(pairs, $"u", $"v")
            .write.format("noop").mode("overwrite").save())
        Dedup.releaseMaterialized(spark)
        time(s"nbr noCkpt    (run $i)")(
          nbrDegreeNoCkpt(pairs, "u", "v")
            .write.format("noop").mode("overwrite").save())
        Dedup.releaseMaterialized(spark)
        time(s"ppr shipped   (run $i)")(
          Corpus.personalizedPageRank(li,
              concat(lit("o"), $"l_orderkey".cast("string")),
              concat(lit("p"), $"l_partkey".cast("string")),
              seeds, iters = 3)
            .write.format("noop").mode("overwrite").save())
        Dedup.releaseMaterialized(spark)
      }
    } finally hogProc.foreach(p => p.destroyForcibly())
    val a = Corpus.avgNeighborDegree(pairs, $"u", $"v").orderBy("node")
      .collect().map(_.toString).toSeq
    val b = nbrDegreeNoCkpt(pairs, "u", "v").orderBy("node")
      .collect().map(_.toString).toSeq
    println(s"nbr equal=${a == b} nodes=${a.size}")
    spark.stop()
  }
}
