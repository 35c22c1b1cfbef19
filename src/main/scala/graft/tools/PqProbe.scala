package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: measure PQ recall@10 vs exact cosine on the synthetic
  * embeddings across (m, ksub) configurations, with and without an
  * exact re-rank of an ADC shortlist — picks the spec threshold and
  * validates the re-rank escalation path. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.functions.Similarity

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // L2-normalize so ascending L2 == descending cosine
    val n = emb.select($"vec_id",
      transform($"embedding", x => x / sqrt(aggregate(
        zip_with($"embedding", $"embedding", (a, b) => (a * b).cast("double")),
        lit(0.0), _ + _))).as("embedding")).cache()
    val qn = n.where($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(n, qn, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    for (m <- Seq(8, 16, 32); ksub <- Seq(16, 32, 64)) {
      val t0 = System.nanoTime()
      val cb = Similarity.trainPqCodebooks(n, "embedding", m = m, ksub = ksub, iters = 4)
      val approx = Similarity.pqAdcTopK(n, qn, "vec_id", "embedding", cb, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (approx intersect exact).size.toDouble / exact.size
      // shortlist recall: does ADC@50 contain the true top-10?
      val short = Similarity.pqAdcTopK(n, qn, "vec_id", "embedding", cb, k = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val shortRecall = (short intersect exact).size.toDouble / exact.size
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"m=$m%3d ksub=$ksub%3d  recall@10=$recall%.3f  shortlist@50-recall=$shortRecall%.3f  ($secs%.1f s)")
    }

    // PCA-rotated PQ vs raw PQ (the OPQ-lite claim): a full-dim PCA
    // rotation is an L2 isometry, so exact ranks are unchanged and the
    // comparison is apples-to-apples; decorrelated axes should spread
    // quantization error more evenly across subspaces
    {
      val pca = Similarity.trainPcaProjection(n, "embedding", outDim = 64)
      val rot = n.select($"vec_id",
        Similarity.pcaProject($"embedding", pca).as("embedding")).cache()
      val qrot = rot.where($"vec_id" < 20)
      for ((m, ksub) <- Seq((8, 16), (16, 32))) {
        val cbRaw = Similarity.trainPqCodebooks(n, "embedding", m = m, ksub = ksub, iters = 4)
        val cbRot = Similarity.trainPqCodebooks(rot, "embedding", m = m, ksub = ksub, iters = 4)
        val raw = Similarity.pqAdcTopK(n, qn, "vec_id", "embedding", cbRaw, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rotRes = Similarity.pqAdcTopK(rot, qrot, "vec_id", "embedding", cbRot, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rr = (raw intersect exact).size.toDouble / exact.size
        val rp = (rotRes intersect exact).size.toDouble / exact.size
        println(f"pca-rotation m=$m%3d ksub=$ksub%3d  raw-pq=$rr%.3f  pca-pq=$rp%.3f")
      }
      rot.unpersist()
    }

    // OPQ vs PCA-lite vs raw PQ on an ANISOTROPIC fixture (r10): the
    // synthetic embeddings are near-isotropic, where r9 measured
    // PCA-rotation ~neutral — real text embeddings are anisotropic, so
    // push the vectors through a fixed dense map with a decaying column
    // spectrum (covariance ≈ A·Aᵀ, non-axis-aligned anisotropy),
    // renormalize, and re-measure all three on the same exact ranks.
    {
      val rnd = new scala.util.Random(7)
      val dim = 64
      val a = Array.tabulate(dim, dim)((i, j) =>
        ((if (i == j) 1.0 else 0.0) + rnd.nextGaussian() * 0.35) * math.pow(0.94, j))
      val an = n.select($"vec_id", Similarity.opqRotate($"embedding", a).as("e0"))
        .select($"vec_id", transform($"e0", x => x / sqrt(aggregate(
          zip_with($"e0", $"e0", (p, q) => p * q), lit(0.0), _ + _))).as("embedding"))
        .cache()
      val qa = an.where($"vec_id" < 20)
      val exactA = Similarity.bruteForceTopK(an, qa, "vec_id", "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (got intersect exactA).size.toDouble / exactA.size
      }
      for ((m, ksub) <- Seq((8, 16), (16, 32))) {
        val cbRaw = Similarity.trainPqCodebooks(an, "embedding", m = m, ksub = ksub, iters = 4)
        val rawR = recallOf(Similarity.pqAdcTopK(an, qa, "vec_id", "embedding", cbRaw, k = 10))
        val pca = Similarity.trainPcaProjection(an, "embedding", outDim = dim)
        val rot = an.select($"vec_id",
          Similarity.pcaProject($"embedding", pca).as("embedding")).cache()
        val cbPca = Similarity.trainPqCodebooks(rot, "embedding", m = m, ksub = ksub, iters = 4)
        val pcaR = recallOf(Similarity.pqAdcTopK(rot, rot.where($"vec_id" < 20),
          "vec_id", "embedding", cbPca, k = 10))
        val t0 = System.nanoTime()
        val opq = Similarity.trainOpqRotation(an, "embedding", m = m, ksub = ksub,
          outerIters = 4, pqIters = 3)
        val trainSecs = (System.nanoTime() - t0) / 1e9
        val ro = an.select($"vec_id",
          Similarity.opqRotate($"embedding", opq.rotation).as("embedding")).cache()
        val opqR = recallOf(Similarity.pqAdcTopK(ro, ro.where($"vec_id" < 20),
          "vec_id", "embedding", opq.codebooks, k = 10))
        println(f"aniso m=$m%3d ksub=$ksub%3d  raw-pq=$rawR%.3f  pca-pq=$pcaR%.3f  opq=$opqR%.3f  (opq-train $trainSecs%.1f s)")
        rot.unpersist(); ro.unpersist()
      }
      an.unpersist()
    }

    // residual IVF-PQ vs raw-code IVF-PQ at identical (m, ksub, nprobe)
    // budgets — the FAISS claim under test: per-list residual codes
    // quantize finer, so recall should not drop and typically rises
    for (kLists <- Seq(4, 8)) {
      val coarse = Similarity.trainIvfCentroids(n, "embedding", k = kLists, iters = 4)
      for ((m, ksub) <- Seq((8, 16), (16, 32))) {
        val cbRaw = Similarity.trainPqCodebooks(n, "embedding", m = m, ksub = ksub, iters = 4)
        val cbRes = Similarity.trainPqCodebooksResidual(n, "embedding", coarse,
          m = m, ksub = ksub, iters = 4)
        for (nprobe <- Seq(2, kLists)) {
          val raw = Similarity.ivfPqTopK(n, qn, "vec_id", "embedding",
              coarse, cbRaw, nprobe, k = 10)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val res = Similarity.ivfPqResidualTopK(n, qn, "vec_id", "embedding",
              coarse, cbRes, nprobe, k = 10)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val rr = (raw intersect exact).size.toDouble / exact.size
          val rs = (res intersect exact).size.toDouble / exact.size
          println(f"kLists=$kLists%2d m=$m%3d ksub=$ksub%3d nprobe=$nprobe%2d  raw-ivfpq=$rr%.3f  residual-ivfpq=$rs%.3f")
        }
      }
    }
    spark.stop()
  }
}
