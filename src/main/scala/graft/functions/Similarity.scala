package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.GraftIO

/** Approximate-nearest-neighbor similarity search over embedding
  * columns (`array<float>`) — north-star extension (SURVEY §7.2 step 7;
  * no reference analog).
  *
  * Baseline: brute-force cosine top-k (exact, oracle-checkable).
  * Scale path: random-hyperplane LSH bucketing — the shuffle key is the
  * bucket signature, and only within-bucket pairs are scored, so cost
  * is Σ bucket² instead of N². All columnar (zip_with/aggregate are
  * codegen'd); a custom Catalyst Expression is the next escalation if
  * profiles demand it.
  */
object Similarity {

  import org.apache.spark.sql.graft.Bridge
  import graft.plans.{VectorSimilarity => VS}

  /** Fused single-pass forms (custom codegen'd Catalyst expression,
    * graft.plans.VectorSimilarity) — no intermediate array per pair;
    * the hot-loop choice for ANN scoring. */
  def dotFused(a: Column, b: Column): Column =
    Bridge.column(VS(Bridge.expression(a), Bridge.expression(b), "dot"))

  def cosineFused(a: Column, b: Column): Column =
    Bridge.column(VS(Bridge.expression(a), Bridge.expression(b), "cosine"))

  /** One-pass L2 normalization to array<double> — bit-equal to
    * `transform(v, x => x / sqrt(dotFused(v, v)))` but O(d) per row:
    * that HOF form re-evaluates the captured norm (and a computed `v`)
    * once per ELEMENT (interpreted HOF, the r13 hazard). Zero vectors
    * produce NaN elements where the HOF form under ANSI THROWS —
    * the one deliberate difference (spec-asserted). */
  def l2NormalizeFused(v: Column): Column =
    Bridge.column(graft.plans.L2Normalize(Bridge.expression(v)))

  /** Farthest-first traversal (Gonzalez 1985 k-center 2-approx) over
    * an embedding column — the DIVERSE-subset selector next to the
    * ANN family ("give me k maximally spread exemplars", the
    * dedup-aware seed picker for labeling/eval sets). Seed = the
    * byte-order MIN id; each round adds the candidate with the
    * LARGEST cosine distance to its nearest selected center
    * (tie-break min id).
    *
    * Determinism: distances are 1 − dot over kernel-normalized
    * vectors — the identical index-order fold both engines run in the
    * green cosine-oracle family, so the raw doubles are bit-identical
    * and the argmax needs no margin; the per-round running min uses
    * `least`, and min over doubles is exactly order-independent, so
    * the oracle may take min over the whole selected set at once.
    * Zero vectors are EXCLUDED (their normalization is NaN, which
    * poisons least/argmax differently per engine — documented, the
    * l2NormalizeFused degradation note). Null-ELEMENT vectors are
    * excluded by the same filter: dotFused is null-aware (r15 — a
    * null element nulls the result, list_dot_product semantics), so
    * `dotFused(v, v) > 0` is NULL on both engines and the row drops;
    * previously the kernel read the null slot as garbage and could
    * diverge from the oracle's exclusion (r14 advice item).
    *
    * Scale shape: the k-means recipe — k driver rounds, each ONE
    * scan updating a lazily-materialized (id, vec, min_dist) state
    * against the single newest center shipped as a broadcast literal;
    * no state ever collects beyond the k picked rows. k ≤ 256 by
    * contract. Output: (rank, center_id, min_dist) in pick order,
    * seed min_dist = 0.0 by convention, min_dist rounded to 6. */
  def farthestFirstCenters(df: DataFrame, id: String, vec: String,
                           k: Int): DataFrame = {
    require(k >= 1 && k <= 256, s"k $k outside [1, 256]")
    val spark = df.sparkSession
    import graft.functions.Dedup.materializeLazily
    val base = materializeLazily(df
      .where(col(vec).isNotNull && size(col(vec)) > 0 &&
        dotFused(col(vec), col(vec)) > 0)
      .select(col(id).cast("string").as("__fid"),
        l2NormalizeFused(col(vec)).as("__v")))
    val seed = base.orderBy(col("__fid")).limit(1)
      .select(col("__fid"), col("__v")).collect()
    require(seed.nonEmpty, "farthestFirstCenters needs at least one nonzero vector")
    val seedId = seed(0).getString(0)
    val seedVec = seed(0).getSeq[Double](1)
    val picked = scala.collection.mutable.ListBuffer[(Int, String, Double)](
      (1, seedId, 0.0))
    var lastVec: Seq[Double] = seedVec
    var lastId: String = seedId
    var state: DataFrame = null
    var r = 2
    while (r <= k) {
      val dNew = lit(1.0) - dotFused(col("__v"), typedlit(lastVec))
      state =
        if (state == null)
          materializeLazily(base.where(col("__fid") =!= lastId)
            .select(col("__fid"), col("__v"), dNew.as("__md")))
        else
          materializeLazily(state.where(col("__fid") =!= lastId)
            .select(col("__fid"), col("__v"),
              least(col("__md"), dNew).as("__md")))
      val top = state
        .agg(min(struct((-col("__md")).as("__nd"), col("__fid").as("__i"),
          col("__v").as("__tv"))).as("__m"))
        .select(col("__m.__nd"), col("__m.__i"), col("__m.__tv"))
        .collect()
      if (top.isEmpty || top(0).isNullAt(0)) {
        r = k + 1 // fewer than k distinct vectors — stop with what exists
      } else {
        lastId = top(0).getString(1)
        lastVec = top(0).getSeq[Double](2)
        picked += ((r, lastId, -top(0).getDouble(0)))
        r += 1
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "center_id", "min_dist")
      .select(col("rank"), col("center_id"),
        round(col("min_dist"), 6).as("min_dist"))
  }

  /** Dot product of two numeric array columns (cast to double).
    * Composable built-in form; see [[dotFused]] for the fused hot path. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact brute-force cosine top-k: for each query vector, the k most
    * similar corpus vectors (excluding itself when ids collide).
    * Normalizes once per side, broadcasts the (small) query set —
    * corpus-side stays partition-parallel with no shuffle until the
    * per-query top-k window. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     id: String, vec: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_v"))
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("__rk").as("rank"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: coarse k-means quantizer + probe lists
  // ------------------------------------------------------------------

  /** Distance-to-centroid list for a vector against a literal centroid
    * table (k is small — the coarse quantizer, not the corpus). */
  private def centroidsLit(cents: Array[Array[Double]]): Column =
    array(cents.map(c => array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)

  /** 1-based index of the nearest centroid by cosine. */
  def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column = {
    val dists = transform(centroidsLit(cents), c => -cosineFused(vec, c))
    array_position(dists, array_min(dists)).cast("int")
  }

  /** Train a coarse quantizer with Lloyd's iterations. Centroids are
    * driver-held (k × dim doubles — tiny) and broadcast as literals;
    * each iteration is one pass over a persisted bounded training
    * sample (`maxTrainRows`, standard IVF practice — FAISS trains on
    * ~256 vectors per centroid) + one narrow per-dimension mean
    * aggregation, so iterations never rescan the corpus.
    *
    * Sampling cost: no count() pass over the input (an arbitrary
    * filtered/projected plan would execute in full just to size the
    * sample). Instead `trainFraction` pre-thins (Bernoulli sample —
    * a narrow scan) and `limit(maxTrainRows)` hard-bounds; Spark's
    * limit stops consuming input once satisfied. At corpus scale set
    * trainFraction ≈ maxTrainRows / estimated_rows for an unbiased
    * spread across files; the default 1.0 takes the first
    * maxTrainRows rows in scan order (fine for a coarse quantizer,
    * zero extra passes). */
  def trainIvfCentroids(df: DataFrame, vec: String, k: Int,
                        iters: Int = 5, seed: Long = 42L,
                        maxTrainRows: Int = 100000,
                        trainFraction: Double = 1.0): Array[Array[Double]] = {
    val vecs = df.select(transform(col(vec), _.cast("double")).as("__v"))
    // The limit is a safety bound, not the sampling mechanism: set
    // trainFraction so the Bernoulli sample (which keeps the input's
    // partitioning — Lloyd stays partition-parallel) lands near
    // maxTrainRows, and the limit only trims the tail. A deliberate
    // repartition of the bounded sample measured SLOWER than leaving
    // it alone at every size tried — the sample is small by
    // construction, so extra stages cost more than parallelism buys.
    val train =
      (if (trainFraction >= 1.0) vecs
       else vecs.sample(withReplacement = false, trainFraction, seed))
        .limit(maxTrainRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // init: k random rows of the (already cached, bounded) sample
      var cents = train.orderBy(rand(seed)).limit(k)
        .collect().map(_.getSeq[Double](0).toArray)
      var it = 0
      while (it < iters) {
        val assigned = train.withColumn("__cid", nearestCentroid(col("__v"), cents))
        val dims = assigned.select(col("__cid"), posexplode(col("__v")).as(Seq("__pos", "__x")))
          .groupBy(col("__cid"), col("__pos")).agg(avg(col("__x")).as("__m"))
          .collect()
        val updated = cents.map(_.clone())
        dims.foreach(r => updated(r.getInt(0) - 1)(r.getInt(1)) = r.getDouble(2))
        cents = updated
        it += 1
      }
      cents
    } finally { train.unpersist(blocking = false); () }
  }

  /** Probe-list scoring shared by the in-memory and persisted-index
    * IVF paths: queries explode to their `nprobe` closest list ids and
    * broadcast; only same-list corpus rows are scored. */
  private def probeScore(assigned: DataFrame, queries: DataFrame, id: String,
                         vec: String, cents: Array[Array[Double]],
                         nprobe: Int, k: Int): DataFrame = {
    val probes = transform(sequence(lit(0), lit(cents.length - 1)),
      i => struct((-cosineFused(col(vec), element_at(centroidsLit(cents), i + 1))).as("d"),
        (i + 1).as("cid")))
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_v"),
        explode(slice(array_sort(probes), 1, nprobe)).as("__p"))
      .select(col("q_id"), col("q_v"), col("__p.cid").as("__cid"))
    val scored = assigned.join(broadcast(q), "__cid")
      .where(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"), col("__rk").as("rank"))
  }

  /** IVF top-k search: corpus rows are assigned to their nearest
    * centroid (the inverted file); each query probes its `nprobe`
    * closest lists only, so scored pairs ≈ corpus × nprobe/k instead
    * of the full cross join. Exactness degrades gracefully with
    * nprobe — set nprobe=k for brute-force-equal results. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              cents: Array[Array[Double]], nprobe: Int, k: Int): DataFrame =
    probeScore(
      corpus.select(col(id).as("c_id"), col(vec).as("c_v"),
        nearestCentroid(col(vec), cents).as("__cid")),
      queries, id, vec, cents, nprobe, k)

  /** Build and persist the inverted file: corpus assigned to lists and
    * written `partitionBy(__cid)` (+ centroids in a sibling dir), so
    * probing reads ONLY the probed lists — at 100 TB the probe join on
    * the partition column dynamic-partition-prunes the scan to
    * nprobe/k of the files instead of filtering after a full read.
    * Returns the trained centroids. */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String, path: String,
                    kLists: Int, iters: Int = 5, seed: Long = 42L): Array[Array[Double]] = {
    val cents = trainIvfCentroids(corpus, vec, kLists, iters, seed)
    corpus.select(col(id).as("c_id"), col(vec).as("c_v"),
        nearestCentroid(col(vec), cents).as("__cid"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__cid").parquet(path)
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"${path}__centroids")
    cents
  }

  /** Query a persisted IVF index ([[buildIvfIndex]]): same semantics
    * as [[ivfTopK]], but the corpus scan is the partitioned inverted
    * file, so Spark prunes to the probed lists. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, id: String, vec: String,
                     nprobe: Int, k: Int): DataFrame = {
    val cents = GraftIO.readParquet(spark, s"${path}__centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)
    probeScore(GraftIO.readParquet(spark, path), queries, id, vec, cents, nprobe, k)
  }

  /** Exact embedding near-dup pairs: every (id_a < id_b) pair whose
    * true cosine clears `minCosine`. QUADRATIC BY DESIGN — this is the
    * oracle/test form (the vector twin of `Dedup.ngramJaccardPairs`);
    * the 100 TB production path is [[lshCosinePairs]]. `blockBy`
    * bounds the pair space to a blocking key when the data has one
    * (language, source, cluster id); without it the plan is a
    * broadcast nested-loop self-join — only sound when `df` itself is
    * small-by-contract. */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
                         minCosine: Double,
                         blockBy: Option[String] = None): DataFrame = {
    val base = df.select((Seq(col(id), col(vec)) ++ blockBy.map(col)): _*)
    val l = base.toDF(Seq("id_a", "v_a") ++ blockBy.map(_ => "blk_a"): _*)
    val r = base.toDF(Seq("id_b", "v_b") ++ blockBy.map(_ => "blk_b"): _*)
    val cond = blockBy match {
      case Some(_) => col("blk_a") === col("blk_b") && col("id_a") < col("id_b")
      case None    => col("id_a") < col("id_b")
    }
    l.join(r, cond)
      .withColumn("cosine", cosineFused(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): the
    * published semantic-dedup recipe is exactly cluster-then-compare —
    * k-means the embeddings with the coarse quantizer
    * ([[trainIvfCentroids]]: bounded sample, driver-held centroids),
    * assign every row to its nearest centroid map-side, and compute
    * exact cosine pairs WITHIN each cluster only
    * ([[cosineNearDupPairs]] blocked on the cluster id). Pair work is
    * Σ cluster² instead of N²; a true near-dup pair split across
    * clusters is never compared — the recipe's accepted recall trade
    * (more clusters = cheaper and lower recall; SemDeDup used
    * k = 11k on 1.3B embeddings). No SQL oracle (k-means is
    * iterative); the cosine-pair core is oracle-checked by
    * q_embed_neardup and the blocking semantics by the
    * cosineNearDupPairs blockBy spec. Output: (id_a, id_b, cosine,
    * cluster). */
  def semanticNearDupPairs(df: DataFrame, id: String, vec: String,
                           kClusters: Int, minCosine: Double,
                           iters: Int = 3, seed: Long = 42L,
                           maxTrainRows: Int = 100000): DataFrame = {
    require(kClusters >= 1, s"kClusters must be >= 1, got $kClusters")
    val cents = trainIvfCentroids(df, vec, kClusters, iters, seed, maxTrainRows)
    // Assignment is O(kClusters · dim) per row — the dominant cost at
    // SemDeDup cluster counts — so it runs EXACTLY ONCE: the assigned
    // projection is materialized (lazy checkpoint, graft-tagged for
    // releaseMaterialized) and the within-cluster join reads it on
    // both sides; the pair emission keeps the block key instead of
    // re-attaching it with a third corpus join.
    val assigned = graft.functions.Dedup.materializeLazily(
      df.select(col(id), col(vec))
        .withColumn("__cluster", nearestCentroid(col(vec), cents)))
    val l = assigned.select(col(id).as("id_a"), col(vec).as("v_a"),
      col("__cluster").as("cluster"))
    val r = assigned.select(col(id).as("id_b"), col(vec).as("v_b"),
      col("__cluster").as("blk_b"))
    l.join(r, col("cluster") === col("blk_b") && col("id_a") < col("id_b"))
      .withColumn("cosine", cosineFused(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"),
        col("cluster"))
  }

  /** Drop the higher id of every [[semanticNearDupPairs]] pair — the
    * SemDeDup keep-one policy at cluster granularity. */
  def dropSemanticNearDups(df: DataFrame, id: String, vec: String,
                           kClusters: Int, minCosine: Double,
                           iters: Int = 3, seed: Long = 42L,
                           maxTrainRows: Int = 100000): DataFrame = {
    val drops = semanticNearDupPairs(df, id, vec, kClusters, minCosine,
        iters, seed, maxTrainRows)
      .select(col("id_b").as("__drop")).distinct()
    df.join(drops, col(id) === col("__drop"), "left_anti")
  }

  /** Attach each row's nearest-coarse-centroid cluster id (1-based) —
    * the public assignment step of the k-means family
    * ([[trainIvfCentroids]] trains; [[semanticNearDupPairs]] and the
    * IVF paths use the same map-side assignment internally). Pure
    * projection. */
  def assignClusters(df: DataFrame, vec: String,
                     cents: Array[Array[Double]],
                     clusterCol: String = "cluster"): DataFrame =
    df.withColumn(clusterCol, nearestCentroid(col(vec), cents))

  /** Cluster-balanced sample: k-means the embeddings with the coarse
    * quantizer, then keep at most `nPerCluster` rows per cluster in
    * the deterministic salted-md5 order — the published
    * diversity-preserving subset draw (SemDeDup-adjacent: a uniform
    * sample over a skewed corpus reproduces the skew; capping per
    * cluster flattens it). Scales as assignment (map-side) + one
    * per-cluster window ([[graft.functions.Corpus.capPerKeyByHash]]'s
    * shape). Pass `cents` to reuse trained/persisted centroids (the
    * production path — with fixed centroids the draw is fully
    * repartition/retry-invariant, spec-asserted); omitting them trains
    * in place, where the k-means INIT depends on the input's
    * partitioning (the draw given a clustering is still
    * deterministic). K-means is iterative → spec-only by declared
    * design. */
  def clusterBalancedSample(df: DataFrame, id: String, vec: String,
                            kClusters: Int, nPerCluster: Int,
                            iters: Int = 3, seed: Long = 42L,
                            maxTrainRows: Int = 100000,
                            cents: Option[Array[Array[Double]]] = None,
                            clusterCol: Option[String] = None): DataFrame = {
    require(kClusters >= 1, s"kClusters must be >= 1, got $kClusters")
    val c = cents.getOrElse(
      trainIvfCentroids(df, vec, kClusters, iters, seed, maxTrainRows))
    // clusterCol keeps the assignment in the output — callers wanting
    // it would otherwise recompute k cosines per sampled row. The
    // internal name must not collide with an input column (it would
    // silently overwrite it and then be dropped), so derive one that
    // is absent; an explicit clusterCol colliding is a caller error.
    clusterCol.foreach(cc => require(!df.columns.contains(cc),
      s"clusterCol '$cc' already exists in the input"))
    val out = clusterCol.getOrElse(
      Iterator.from(0).map(i => if (i == 0) "__cluster" else s"__cluster$i")
        .find(n => !df.columns.contains(n)).get)
    val capped = graft.functions.Corpus.capPerKeyByHash(
      assignClusters(df, vec, c, out), Seq(out), id, nPerCluster, seed)
    if (clusterCol.isEmpty) capped.drop(out) else capped
  }

  /** Simplified (centroid-based) silhouette per cluster — the
    * cluster-QUALITY audit the k-means family lacked (r14 verdict
    * item 3): before SemDeDup/cluster-balanced-sample trusts an
    * assignment, this answers "did k-means produce usable clusters".
    * Per vector: a = cosine distance to its OWN (nearest) centroid,
    * b = distance to the second-nearest; s = (b − a)/max(a, b) (the
    * Hruschka et al. simplified form — full silhouette's per-PAIR a/b
    * is O(n²) and needs no engine at 100 TB to tell you it's
    * unaffordable). The general definition ranges over [−1, 1], but
    * HERE assignment is nearest-centroid BY CONSTRUCTION, so b ≥ a
    * and s ∈ [0, 1] structurally (negatives only arise when scoring
    * someone else's assignment — not this op's contract). s ≈ 1:
    * tight, well-separated; s ≈ 0: on a boundary; the per-cluster
    * mean is the usability number.
    *
    * Determinism (the q_ann_cosine/q_ffc green-family recipe):
    * centroids are driver-normalized with the [[l2NormalizeFused]]
    * kernel's exact index-order fold, vectors kernel-normalized, so
    * every distance is the bit-identical double both engines compute;
    * the per-cluster MEAN rides the ×1e12 scaled-decimal fold (a raw
    * double sum would be partition-order-dependent; decimal, not
    * long — terms reach 1e12 and clusters grow with data, the
    * fleissKappa overflow class); min/max are exactly
    * order-independent. Both engines round the SAME raw s·1e12, so
    * the only cross-engine channel is Spark's shortest-repr HALF_UP
    * vs DuckDB's raw-double rounding at a .5 grid boundary — a flip
    * shifts the mean by ≤ 1e-12/n, bounded far below any gate; no
    * margin profiling needed. Assignment ties break on centroid
    * index (array_sort on (d, cid) ≙ ORDER BY d, cid).
    *
    * Conventions: zero and null-element vectors are EXCLUDED (their
    * normalization is NaN — the [[farthestFirstCenters]] rule);
    * k = 1 reports s = 0.0 for every row (no "other" cluster — the
    * classic convention); a == b == 0 (vector equals a duplicated
    * centroid) reports 0.0 rather than 0/0; a centroid no row chose
    * is ABSENT from the report (audit the k request upstream).
    *
    * Scale shape: pure map-side k-distance projection (k ≤ 256
    * literal centroids by contract) + one k-row aggregate — no
    * shuffle of the corpus at all. Output: (cluster, n,
    * mean_silhouette, min_silhouette, max_silhouette). */
  def silhouetteReport(df: DataFrame, vec: String,
                       cents: Array[Array[Double]]): DataFrame = {
    require(cents.nonEmpty && cents.length <= 256,
      s"centroid count ${cents.length} outside [1, 256]")
    val k = cents.length
    val nc = cents.map { c =>
      var ss = 0.0; c.foreach(x => ss += x * x)
      val n = math.sqrt(ss)
      require(n > 0, "silhouetteReport: zero-norm centroid")
      c.map(_ / n)
    }
    val base = df
      .where(col(vec).isNotNull && size(col(vec)) > 0 &&
        dotFused(col(vec), col(vec)) > 0)
      .select(l2NormalizeFused(col(vec)).as("__v"))
    val centsCol = centroidsLit(nc)
    val dists = transform(sequence(lit(0), lit(k - 1)),
      i => struct(
        (lit(1.0) - dotFused(col("__v"), element_at(centsCol, i + 1))).as("d"),
        (i + 1).as("cid")))
    val sorted = array_sort(dists)
    val scored = base.select(
      element_at(sorted, 1).getField("cid").as("cluster"),
      element_at(sorted, 1).getField("d").as("__a"),
      (if (k == 1) lit(null).cast("double")
       else element_at(sorted, 2).getField("d")).as("__b"))
    val s =
      if (k == 1) lit(0.0)
      else when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
        .otherwise((col("__b") - col("__a")) /
          greatest(col("__a"), col("__b")))
    // scaled terms accumulate in decimal(38,0): each is up to 1e12 and
    // cluster sizes grow with the data — a long sum ANSI-overflows at
    // ~9.2e6 rows (the fleissKappaReport r14 advice class)
    scored.select(col("cluster"), s.as("__s"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("__s") * lit(1e12)).cast("decimal(38,0)"))
          .cast("double") /
          lit(1e12) / count(lit(1)).cast("double")).as("mean_silhouette"),
        min(col("__s")).as("min_silhouette"),
        max(col("__s")).as("max_silhouette"))
  }

  /** Random-hyperplane signature: `planes` sign bits from fixed seeded
    * Gaussian hyperplanes, packed into a bigint bucket id. Vectors with
    * high cosine land in the same bucket with probability
    * (1 - theta/pi)^planes. */
  def hyperplaneBucket(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val hp = Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, array(hp(p).map(lit).toIndexedSeq: _*), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Per-table bucket column set shared by [[lshCosinePairs]] and
    * [[cosineBucketStats]]: one (tbl, bkt) struct per table, exploded. */
  private def tableBuckets(vec: Column, dim: Int, planes: Int,
                           tables: Int, seed: Long): Column =
    explode(array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), hyperplaneBucket(vec, dim, planes, seed + t).as("bkt"))): _*))

  /** ANN near-neighbor pairs via LSH bucketing with multiple tables
    * (OR-amplification): `tables` independent signatures; pairs sharing
    * any bucket are scored, then filtered on true cosine.
    *
    * Scale shape mirrors `Dedup.minhashLshPairs`: candidates are
    * generated on NARROW (tbl, bkt, id) rows — ONE groupBy shuffle on
    * the bucket key collecting each bucket's sorted ids, in-place pair
    * emission, then a distinct — so a pair colliding in T tables is
    * scored ONCE, and the wide vectors never ride the bucket shuffle;
    * they re-attach via two joins that AQE broadcasts (candidates ≈
    * near-dup pairs, tiny).
    *
    * Precondition: `id` values are unique (same contract as
    * `Dedup.minhashLshPairs`). Self-pairs are filtered structurally
    * (pair emission skips equal ids), but a duplicated id multiplies
    * rows at the vector re-attach joins — dedupe by id first if the
    * source may repeat ids.
    *
    * @param maxBucketSize drop buckets holding more than this many
    *        vectors (0 = no cap). A dense embedding region that
    *        collapses into one hyperplane bucket contributes M²
    *        candidate pairs; the cap bounds the blow-up at the cost of
    *        recall on those vectors — audit the actual distribution
    *        with [[cosineBucketStats]] before (or after) committing to
    *        a cap. Pairs lost to a capped bucket in one table can
    *        still surface via another table (OR-amplification). */
  def lshCosinePairs(df: DataFrame, id: String, vec: String, dim: Int,
                     planes: Int = 12, tables: Int = 4,
                     minCosine: Double = 0.8, seed: Long = 42L,
                     maxBucketSize: Int = 1000): DataFrame = {
    // hyperplane signs are scale-invariant and the fused cosine
    // normalizes internally — raw vectors throughout, no transform pass
    val base = df.select(col(id).as("__id"), col(vec).as("__v"))
    val bucketed = base.select(col("__id"),
      tableBuckets(col("__v"), dim, planes, tables, seed).as("__b"))
    cosinePairsFromBuckets(base, bucketed, minCosine, maxBucketSize)
  }

  /** Shared tail of the LSH-pairs family: bucket-collision candidates
    * (narrow collect_list shuffle, in-place pair emission) + exact
    * cosine verify. `bucketed` = (__id, __b) rows, any bucket scheme. */
  private def cosinePairsFromBuckets(base: DataFrame, bucketed: DataFrame,
                                     minCosine: Double,
                                     maxBucketSize: Int): DataFrame = {
    val keep =
      if (maxBucketSize > 0) size(col("__ids")).between(2, maxBucketSize)
      else size(col("__ids")) >= 2
    val cand = bucketed.groupBy(col("__b"))
      .agg(sort_array(collect_list(col("__id"))).as("__ids"))
      .where(keep)
      .select(explode(Dedup.pairsFromSorted(col("__ids"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    val va = base.select(col("__id").as("id_a"), col("__v").as("v_a"))
    val vb = base.select(col("__id").as("id_b"), col("__v").as("v_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", cosineFused(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** LSH cosine pairs over SUPPLIED hyperplanes — the oracle /
    * portability tier of [[lshCosinePairs]] (the supplied-artifact
    * pattern of clusterBalancedSample): `planes(t)(p)` is hyperplane p
    * of table t, bucket bit p of table t is `dot(v, planes(t)(p)) >=
    * 0`, and the candidate/verify tail is byte-identical to the seeded
    * form. The plane dot runs on double-cast inputs via the fused
    * kernel (left-to-right fold — bit-compatible with DuckDB's
    * `list_dot_product`, the equivalence q_ann_sq8's oracle already
    * pins), so with the same literal planes any SQL engine replays the
    * buckets, the collisions, and the exact-cosine filter. Production
    * keeps the seeded xxhash64 planes ([[lshCosinePairs]]) — supplied
    * planes are for oracles and for deployments that version their
    * planes as data. Same uniqueness/cap contracts as the seeded form. */
  def lshCosinePairsPlanes(df: DataFrame, id: String, vec: String,
                           planes: Array[Array[Array[Double]]],
                           minCosine: Double,
                           maxBucketSize: Int = 1000): DataFrame = {
    require(planes.nonEmpty && planes.forall(_.nonEmpty), "need >= 1 table with >= 1 plane")
    require(planes.forall(_.length <= 62), "per-table planes must fit a signed-long bucket")
    val base = df.select(col(id).as("__id"), col(vec).as("__v"))
    val buckets = explode(array(planes.indices.map { t =>
      val bkt = planes(t).indices.map { p =>
        when(dotFused(vecD(col("__v")), dblArrayLit(planes(t)(p))) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
      struct(lit(t).as("tbl"), bkt.as("bkt"))
    }: _*))
    val bucketed = base.select(col("__id"), buckets.as("__b"))
    cosinePairsFromBuckets(base, bucketed, minCosine, maxBucketSize)
  }

  /** Audit the hyperplane-bucket size distribution: one row per (table,
    * bucket) holding more than `minSize` vectors, with its size —
    * exactly the buckets [[lshCosinePairs]] would drop at
    * `maxBucketSize = minSize`, so a cap's recall cost is measurable.
    * Cost: the bucket projection + one narrow (tbl, bkt, count)
    * aggregate; no join, no pair blow-up — safe at full corpus scale.
    * The twin of `Dedup.lshBucketStats`. */
  def cosineBucketStats(df: DataFrame, id: String, vec: String, dim: Int,
                        planes: Int = 12, tables: Int = 4,
                        seed: Long = 42L, minSize: Int = 1000): DataFrame =
    df.select(tableBuckets(col(vec), dim, planes, tables, seed).as("__b"))
      .groupBy(col("__b.tbl").as("tbl"), col("__b.bkt").as("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > minSize)

  // ------------------------------------------------------------------
  // Product quantization (PQ): compressed-domain ANN for the 100 TB
  // tier — a dim-float vector becomes m small codes (m bytes at
  // ksub ≤ 256), so the WHOLE corpus index fits in a fraction of the
  // raw embedding footprint and scoring is m table lookups per pair
  // (ADC) instead of dim multiplies. Metric is squared L2 per
  // subspace (the standard PQ formulation); for cosine retrieval
  // L2-normalize vectors first — on unit vectors ascending L2 order
  // IS descending cosine order.
  // ------------------------------------------------------------------

  /** Squared L2 distance between two equal-length double arrays. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  private def vecD(v: Column): Column = transform(v, _.cast("double"))

  /** Codebooks as a nested literal: m → ksub → dsub. Plan-size bound:
    * m·ksub·dsub doubles = one full vector per sub-centroid row
    * (m=8, ksub=256, dim=64 → 16k literals — fine; for very large
    * codebooks persist them and join instead). */
  private def codebooksLit(cb: Array[Array[Array[Double]]]): Column =
    array(cb.map(sub => array(sub.map(c =>
      array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)).toIndexedSeq: _*)

  /** Train PQ codebooks with per-subspace Lloyd's iterations — the
    * same driver-held-centroids / bounded-cached-sample shape as
    * [[trainIvfCentroids]], but all m subspaces train in ONE pass per
    * iteration (subspace index exploded, per-(subspace, code,
    * dimension) mean aggregation). `dim` must divide evenly by `m`.
    * Returns codebooks(j)(c) = the ksub sub-centroids of subspace j
    * (each length dim/m). Deterministic per seed. */
  def trainPqCodebooks(df: DataFrame, vec: String, m: Int, ksub: Int,
                       iters: Int = 5, seed: Long = 42L,
                       maxTrainRows: Int = 100000,
                       trainFraction: Double = 1.0): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1, s"m $m and ksub $ksub must be >= 1")
    val vecs = df.select(vecD(col(vec)).as("__v"))
    val train =
      (if (trainFraction >= 1.0) vecs
       else vecs.sample(withReplacement = false, trainFraction, seed))
        .limit(maxTrainRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = train.select(size(col("__v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide evenly into m=$m subspaces")
      val dsub = dim / m
      // init: ksub random sample rows, each sliced into its m sub-vectors
      var cb: Array[Array[Array[Double]]] = {
        val rows = train.orderBy(rand(seed)).limit(ksub)
          .collect().map(_.getSeq[Double](0).toArray)
        require(rows.length >= ksub,
          s"need >= $ksub training vectors, got ${rows.length}")
        Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub)))
      }
      var it = 0
      while (it < iters) {
        // assignment via the fused kernel (all m codes in one call —
        // the columnar form's m·ksub·dsub-literal codegen dominated
        // small-job wall clock with Janino compile time)
        val means = train
          .select(pqEncode(col("__v"), cb).as("__codes"),
            posexplode(col("__v")).as(Seq("__pos", "__x")))
          .select(expr(s"__pos DIV $dsub").cast("int").as("__j"),
            col("__codes"), col("__pos"), col("__x"))
          .select(col("__j"), element_at(col("__codes"), col("__j") + 1).as("__cid"),
            (col("__pos") % dsub).cast("int").as("__sp"), col("__x"))
          .groupBy("__j", "__cid", "__sp").agg(avg(col("__x")).as("__m"))
          .collect()  // m·ksub·dsub rows — driver-held by construction
        val updated = cb.map(_.map(_.clone()))
        means.foreach { r =>
          updated(r.getInt(0))(r.getInt(1) - 1)(r.getInt(2)) = r.getDouble(3)
        }
        cb = updated
        it += 1
      }
      cb
    } finally { train.unpersist(blocking = false); () }
  }

  /** PQ-encode a vector: m codes, code j = 1-based index of the
    * nearest (squared-L2) sub-centroid for subspace j. Fused codegen
    * kernel ([[graft.plans.PqEncode]] — codebooks ride as a plan
    * reference object, not literals); pure projection, no shuffle;
    * at 100 TB this is the one full-corpus pass that builds the
    * compressed index. */
  def pqEncode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    Bridge.column(graft.plans.PqEncode(Bridge.expression(vec), cb))

  /** Composable built-ins twin of [[pqEncode]] (codebooks as a nested
    * literal, `transform`/`slice`/`array_position`) — kept for the
    * bit-compat differential spec; prefer the kernel: this form's
    * m·ksub·dsub-literal generated code is Janino-compile-bound. */
  def pqEncodeColumnar(vec: Column, cb: Array[Array[Array[Double]]]): Column = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val cbl = codebooksLit(cb)
    val v = vecD(vec)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(v, j * dsub + 1, lit(dsub))
      val dists = transform(element_at(cbl, j + 1), c => sqL2(sub, c))
      array_position(dists, array_min(dists)).cast("int")
    })
  }

  /** Reconstruction of a code array (the centroid concatenation) —
    * the decoded approximation of the original vector; exposed for
    * audits (quantization-error measurement) and tests. */
  def pqDecode(codes: Column, cb: Array[Array[Array[Double]]]): Column = {
    val cbl = codebooksLit(cb)
    flatten(zip_with(codes, sequence(lit(1), lit(cb.length)),
      (c, j) => element_at(element_at(cbl, j), c)))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * query computes its m×ksub lookup table of exact sub-distances
    * (a columnar projection on the QUERY side — small by contract —
    * then broadcast), and every corpus row scores as m table lookups
    * on its codes: `Σ_j lut[j][code_j]`, one `zip_with`+`aggregate`,
    * never touching the original floats. Corpus side stays
    * partition-parallel with no shuffle until the per-query top-k
    * window (same shape as [[bruteForceTopK]], minus the dim-wide
    * arithmetic AND minus the raw-vector scan — at 100 TB the input
    * is the codes table, ~dim·4/m× smaller than the embeddings).
    * Returns ascending approximate squared L2 (`adist`); on
    * L2-normalized inputs that order is exactly descending-cosine.
    * Pass `codes` when the corpus is already encoded (a persisted
    * codes table); otherwise it encodes inline. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                cb: Array[Array[Array[Double]]], k: Int,
                codes: Option[Column] = None): DataFrame = {
    val c = corpus.select(col(id).as("c_id"),
      codes.getOrElse(pqEncode(col(vec), cb)).as("c_codes"))
    val lut = Bridge.column(graft.plans.PqLut(Bridge.expression(col(vec)), cb))
    val q = queries.select(col(id).as("q_id"), lut.as("q_lut"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("adist",
        aggregate(zip_with(col("c_codes"), col("q_lut"),
          (cd, row) => element_at(row, cd)), lit(0.0), _ + _))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("adist"), 6).as("adist"),
        col("__rk").as("rank"))
  }

  /** ADC shortlist + EXACT re-rank — the production PQ recipe: the
    * compressed-domain scan retrieves `shortlist` candidates per query
    * (default 5k), then ONLY those rows re-score with the true
    * vectors, and the top-k of the exact scores is returned. Final
    * recall equals shortlist recall, which is far higher than raw ADC
    * rank agreement (measured on the synthetic embeddings, m=16
    * ksub=32: [email protected] raw → 0.94 with a 5× shortlist —
    * `tools/PqProbe`). The re-rank join BROADCASTS the candidate ids
    * (|queries|·shortlist rows — small by contract) against the
    * corpus, so the corpus never shuffles; exact scoring is cosine,
    * matching [[bruteForceTopK]]'s output contract — use on
    * L2-normalized vectors so the ADC (L2) shortlist and the cosine
    * re-rank agree on the metric. Output: (q_id, c_id, sim, rank). */
  def pqAdcTopKReranked(corpus: DataFrame, queries: DataFrame, id: String,
                        vec: String, cb: Array[Array[Array[Double]]], k: Int,
                        shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 5 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val cand = pqAdcTopK(corpus, queries, id, vec, cb, sl)
      .select(col("q_id"), col("c_id"))
    val cv = corpus.select(col(id).as("c_id"), col(vec).as("c_v"))
    val qv = queries.select(col(id).as("q_id"), col(vec).as("q_v"))
    val scored = cv.join(broadcast(cand), "c_id")
      .join(broadcast(qv), "q_id")
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"),
        col("__rk").as("rank"))
  }

  /** PQ encode + asymmetric DECODED-dot top-k over SUPPLIED codebooks
    * — the dialect-exact oracle / portability tier of the PQ family
    * (the supplied-artifact pattern of clusterBalancedSample): with
    * codebooks that any engine can derive (e.g. slices of designated
    * corpus rows), every step replays in SQL bit-for-bit, which the
    * kernelized float-path tiers ([[pqAdcTopK]]) deliberately trade
    * away for speed.
    *
    * Three dialect-exactness choices, each load-bearing:
    * - encode picks code j by `argmax_c [x_sub·c − |c|²/2]` — the
    *   monotone dot form of min-squared-L2 (expanding ‖x−c‖² and
    *   dropping the code-independent ‖x‖²), so the only float ops are
    *   the fused left-fold dot (≡ `list_dot_product`, pinned by
    *   q_ann_sq8's oracle) plus one subtract; ties break to the
    *   lowest code (`array_position` finds the FIRST max).
    * - the per-codeword `|c|²/2` rides as a driver literal computed
    *   with the same left fold, so both engines subtract identical
    *   bits.
    * - scoring reconstructs the corpus row (codeword concatenation,
    *   once per corpus row) and takes ONE full-dim decoded dot
    *   `q · rec` — the sq8 asymmetric shape — instead of summing m
    *   sub-dots, whose float grouping no SQL engine reproduces.
    *
    * Corpus side is a pure projection (encode + reconstruct), queries
    * broadcast, no shuffle until the per-query top-k window. On
    * L2-normalized inputs descending `adot` is cosine order. Output:
    * (q_id, c_id, adot, rank). */
  def pqDecodedTopK(corpus: DataFrame, queries: DataFrame, id: String,
                    vec: String, cb: Array[Array[Array[Double]]],
                    k: Int): DataFrame = {
    val m = cb.length
    require(m >= 1 && cb.forall(_.nonEmpty), "need >= 1 subspace with >= 1 codeword")
    val dsub = cb(0)(0).length
    // −|c|²/2 as driver literals; foldLeft matches the fused dot's
    // left-to-right accumulation order
    val half = cb.map(_.map(c => 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)))
    def reconstruct(v0: Column): Column = {
      val v = vecD(v0)
      concat((0 until m).map { j =>
        val sub = slice(v, j * dsub + 1, dsub)
        val scores = array(cb(j).indices.map(c =>
          dotFused(sub, dblArrayLit(cb(j)(c))) - lit(half(j)(c))): _*)
        val code = array_position(scores, array_max(scores))
        element_at(array(cb(j).map(dblArrayLit).toIndexedSeq: _*), code.cast("int"))
      }: _*)
    }
    val c = corpus.select(col(id).as("c_id"), reconstruct(col(vec)).as("c_rec"))
    val q = queries.select(col(id).as("q_id"), vecD(col(vec)).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("adot", dotFused(col("q_v"), col("c_rec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("adot"), 6).as("adot"),
        col("__rk").as("rank"))
  }

  /** IVF-PQ: coarse inverted-file probe + compressed-domain ADC
    * scoring — the FAISS-style composition that makes billion-vector
    * search tractable: the probe join prunes to `nprobe/kLists` of the
    * corpus, and the pruned candidates score by table lookup. Corpus
    * rows carry (coarse list id, PQ codes); queries explode to their
    * nprobe nearest lists (cosine coarse quantizer, as [[ivfTopK]])
    * with their ADC lookup table and broadcast. With nprobe = kLists
    * this equals [[pqAdcTopK]] exactly (spec-asserted). Codes here
    * quantize the RAW vector; [[ivfPqResidualTopK]] is the per-list
    * residual refinement (the FAISS recipe). */
  // ------------------------------------------------------------------
  // SQ8 scalar quantization: per-dimension uint8 codes
  // ------------------------------------------------------------------

  /** Per-dimension (min, max) quantization bounds for SQ8 — one narrow
    * posexplode pass with a dim-row aggregate; the "model" is 2·dim
    * doubles, driver-held by construction (like [[trainIvfCentroids]]'s
    * centroids). Unlike PQ's iterative k-means this training step is a
    * single min/max aggregation — fully SQL-expressible, which is what
    * makes the SQ8 query path oracle-checkable end to end. */
  def trainSq8Bounds(df: DataFrame, vec: String): (Array[Double], Array[Double]) = {
    val rows = df.select(posexplode(vecD(col(vec))).as(Seq("__pos", "__x")))
      .groupBy("__pos").agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .orderBy("__pos").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  private def dblArrayLit(a: Array[Double]): Column =
    array(a.map(lit).toIndexedSeq: _*)

  /** SQ8-encode a vector: `code_i = clamp(floor((x_i − min_i) · 256 /
    * (max_i − min_i)), 0, 255)` (constant dims encode 0). One byte per
    * dimension — a 4× compression over float32, the cheap tier below
    * PQ. `floor` and the three IEEE ops are correctly rounded in every
    * engine, so codes are bit-identical cross-engine (deliberately NOT
    * `round` — see the SparkEntry round() note). Pure projection, no
    * shuffle; at 100 TB this is the one full-corpus pass that builds
    * the compressed index (persist the codes and pass them to
    * [[sq8TopK]]'s `codes` hook). */
  def sq8Encode(vec: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val mn = dblArrayLit(mins)
    val mx = dblArrayLit(maxs)
    transform(vecD(vec), (x, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      when(hi === lo, lit(0L))
        .otherwise(least(greatest(floor((x - lo) * lit(256.0) / (hi - lo)),
          lit(0L)), lit(255L)))
        .cast("int")
    })
  }

  /** Mid-point reconstruction of SQ8 codes: `min_i + (code_i + 0.5) ·
    * w_i / 256` — decode error ≤ w_i/512 per dimension for in-bounds
    * inputs. Exposed for audits and the quantization-error spec. */
  def sq8Decode(codes: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val mn = dblArrayLit(mins)
    val mx = dblArrayLit(maxs)
    transform(codes, (c, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      lo + (c.cast("double") + lit(0.5)) * (hi - lo) / lit(256.0)
    })
  }

  /** Compressed-domain top-k over SQ8 codes — the FAISS-style
    * ASYMMETRIC recipe: the corpus side decodes its 1-byte codes to
    * mid-point reconstructions ONCE per corpus row (never per pair),
    * the raw query vector broadcasts, and each pair scores as the
    * fused decoded dot `Σ_i q_i · dec(ccode_i)`. (A symmetric integer
    * code dot was probed and REJECTED: per-dim affine codes scale each
    * dimension by 256/w_i, so code·code distorts the dot metric —
    * measured recall@10 0.06 on the normalized embeddings vs ~1.0 for
    * this form.) Every step — the min/max fit, the floor-quantize, the
    * mid-point decode, the in-order dot fold — is replayable in SQL,
    * which makes this the one compressed-domain ANN here with a full
    * end-to-end oracle (PQ's k-means and LSH's hyperplanes are not
    * SQL-expressible). Corpus side stays partition-parallel with no
    * shuffle until the per-query top-k window; at 100 TB the scan
    * input is the 1-byte/dim codes table (4× smaller than float32 —
    * pass it via `codes`), decode is register arithmetic. Output:
    * (q_id, c_id, adot, rank), `adot` descending approximate dot. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              mins: Array[Double], maxs: Array[Double], k: Int,
              codes: Option[Column] = None): DataFrame = {
    val c = corpus.select(col(id).as("c_id"),
      sq8Decode(codes.getOrElse(sq8Encode(col(vec), mins, maxs)),
        mins, maxs).as("c_dec"))
    val q = queries.select(col(id).as("q_id"), vecD(col(vec)).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("adot", dotFused(col("q_v"), col("c_dec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("adot"), 6).as("adot"),
        col("__rk").as("rank"))
  }

  /** SQ8 shortlist + EXACT cosine re-rank — the production SQ8 recipe
    * (same shape as [[pqAdcTopKReranked]]): the integer-domain scan
    * retrieves `shortlist` candidates per query (default 5·k), only
    * those rows re-score with the true vectors (candidate ids
    * broadcast — the corpus never shuffles), and the top-k of the
    * exact scores is returned. Use on L2-normalized vectors so the
    * code-dot shortlist and the cosine re-rank agree on the metric.
    * Output: (q_id, c_id, sim, rank). */
  def sq8TopKReranked(corpus: DataFrame, queries: DataFrame, id: String,
                      vec: String, mins: Array[Double], maxs: Array[Double],
                      k: Int, shortlist: Int = 0,
                      codes: Option[Column] = None): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 5 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    // forward the persisted-codes hook: without it the compressed
    // shortlist scan would re-read the full float vectors and
    // re-encode per row, defeating the 4x-smaller-scan design
    val cand = sq8TopK(corpus, queries, id, vec, mins, maxs, sl, codes)
      .select(col("q_id"), col("c_id"))
    val cv = corpus.select(col(id).as("c_id"), col(vec).as("c_v"))
    val qv = queries.select(col(id).as("q_id"), col(vec).as("q_v"))
    val scored = cv.join(broadcast(cand), "c_id")
      .join(broadcast(qv), "q_id")
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("sim"), 6).as("sim"),
        col("__rk").as("rank"))
  }

  /** k-NN label prediction over embeddings: majority vote among the
    * `k` nearest labeled vectors (cosine; neighbor selection is
    * [[bruteForceTopK]]'s deterministic (sim desc, c_id) order), vote
    * ties broken by (count desc, label asc) — the semi-supervised
    * label-propagation step (spread a small set of human quality/
    * topic labels across a corpus by embedding neighborhood; the
    * k-NN-distilled tier below a trained classifier head). Labels
    * re-attach to the k·|queries| pair rows by id (AQE broadcasts the
    * slim pair side); one bounded-key vote aggregate. Output: (q_id,
    * pred_label, n_votes). */
  def knnPredict(labeled: DataFrame, queries: DataFrame, id: String,
                 vec: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(labeled, queries, id, vec, k)
      .select(col("q_id"), col("c_id"))
    val labels = labeled.select(col(id).as("c_id"), col(labelCol).as("__l"))
    topk.join(labels, "c_id")
      .groupBy(col("q_id"), col("__l")).agg(count(lit(1)).as("__c"))
      .groupBy(col("q_id"))
      .agg(min(struct((-col("__c")).as("nc"), col("__l").as("l"))).as("__best"))
      .select(col("q_id"), col("__best.l").as("pred_label"),
        (-col("__best.nc")).as("n_votes"))
  }

  /** Per-key centroid-cosine audit: each vector's cosine to its key's
    * [[meanPoolEmbeddings]] centroid — LOW cosine flags outliers
    * (mislabel / noise candidates, the cheap tier of a SemDeDup-style
    * cluster inspection). The centroid components are the pooled
    * ROUNDED means, so the score is cross-engine reproducible; one
    * (key) broadcast-join of the centroid table (key cardinality
    * small by the pooling contract) + a fused-cosine projection.
    * Output: input key + `id` + cos_centroid (rounded 6). */
  def centroidCosine(df: DataFrame, key: String, id: String,
                     vec: String): DataFrame = {
    val cents = pooledCore(df, key, vec)
      .select(col(key), col("pooled").as("__cent"))
    df.select(col(key), col(id), col(vec).as("__v"))
      .join(broadcast(cents), key)
      .select(col(key), col(id),
        round(cosineFused(col("__v"), col("__cent")), 6).as("cos_centroid"))
  }

  /** Margin-based top-k (Artetxe & Schwenk 2019, the LASER/CCMatrix
    * bitext-mining criterion): score a (query, candidate) pair not by
    * raw cosine but by the RATIO margin
    *
    *   margin(x, y) = cos(x, y) /
    *                  ((avg_kAvg cos(x, NN(x)) + avg_kAvg cos(y, NN(y))) / 2)
    *
    * — cosine normalized by both sides' average similarity to their
    * own `kAvg` nearest neighbors, which cancels hubness (a candidate
    * that is close to EVERYTHING scores high cosine against every
    * query; dividing by its neighborhood average demotes it). The
    * published recipe for mining aligned pairs (translation bitext,
    * near-duplicate captions) where raw-cosine ranking drowns in hub
    * vectors.
    *
    * Shapes: x-neighborhoods are per-query averages of the top `kAvg`
    * sims over the corpus (the one broadcast scan [[bruteForceTopK]]
    * already does, + a per-query aggregate); y-neighborhoods are each
    * candidate's top `kAvg` sims over the QUERY SET — also from the
    * same scan, re-windowed by candidate (query count is small by
    * contract, so both windows partition on bounded keys ... the
    * corpus never shuffles more than its (c_id, sim) pairs). The
    * scored pair set feeds three consumers (ax, ay, the margin join),
    * so the broadcast cosine scan runs ~3× — DELIBERATE: the N·|Q|
    * sim table must never materialize (at corpus scale it dwarfs the
    * corpus itself), and recomputing a map-side projection is the
    * cheaper side of that trade, same call as the strip family's
    * multi-pass scans. NOTE y-neighborhoods here are measured against
    * the query set, not the whole corpus — the forward-mining setup;
    * symmetric corpus-side neighborhoods would need a second
    * self-scan (see [[marginTopKSymmetric]]).
    * Precondition: embeddings should be L2-normalized (the published
    * setup) so neighborhood averages are positive; pairs whose
    * denominator (__ax + __ay) is <= 0 — possible only on
    * non-normalized / adversarially anti-correlated inputs — are
    * DROPPED rather than scored (an Inf/NaN margin would rank
    * nondeterministically across engines).
    * Output: (q_id, c_id, margin rounded 6, rank), margin descending
    * with c_id tie-break. */
  def marginTopK(corpus: DataFrame, queries: DataFrame, id: String,
                 vec: String, k: Int, kAvg: Int = 4): DataFrame = {
    require(k >= 1 && kAvg >= 1, s"k $k and kAvg $kAvg must be >= 1")
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_v"))
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
      .select(col("q_id"), col("c_id"), col("sim"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val ax = scored.withColumn("__r", row_number().over(wq))
      .where(col("__r") <= kAvg)
      .groupBy(col("q_id")).agg(avg(col("sim")).as("__ax"))
    val wc = Window.partitionBy(col("c_id")).orderBy(col("sim").desc, col("q_id"))
    val ay = scored.withColumn("__r", row_number().over(wc))
      .where(col("__r") <= kAvg)
      .groupBy(col("c_id")).agg(avg(col("sim")).as("__ay"))
    val m = scored.join(ax, "q_id").join(ay, "c_id")
      .where(col("__ax") + col("__ay") > 0)
      .withColumn("margin",
        round(col("sim") / ((col("__ax") + col("__ay")) / 2), 6))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("margin").desc, col("c_id"))
    m.withColumn("__rk", row_number().over(wRank)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), col("margin"), col("__rk").as("rank"))
  }

  /** [[marginTopK]] with SYMMETRIC (corpus-side) y-neighborhoods — the
    * published GLOBAL-mining setup (Artetxe & Schwenk 2019 §3.2;
    * CCMatrix): each candidate's neighborhood average is its top-`kAvg`
    * cosines over the CORPUS ITSELF, not over the query set. That
    * needs a corpus self-kNN, which must never be the N² self-join at
    * scale — here it is cluster-pruned exactly like
    * [[semanticNearDupPairs]]: a coarse quantizer
    * ([[trainIvfCentroids]], bounded sample) assigns every vector to
    * one of `kLists` clusters map-side (assignment materialized once,
    * lazy checkpoint), and self-pairs are scored WITHIN clusters only
    * (Σ cluster² work). The approximation: neighbors split across a
    * cluster boundary are missed, so a vector's neighborhood average
    * can come from fewer than `kAvg` neighbors (avg over what the
    * cluster holds), and a SINGLETON-cluster vector has no
    * neighborhood at all and is dropped from the ranking (inner
    * join) — both standard cluster-pruning trades, shrinking as
    * kLists/N does.
    *
    * `kLists = 1` is the EXACT tier: every vector shares one cluster,
    * no quantizer is trained (the assignment is constant), the
    * self-scan is complete — quadratic by design, the oracle/test
    * form, same contract as [[cosineNearDupPairs]] vs
    * [[lshCosinePairs]]. Same denominator guard and output shape as
    * [[marginTopK]]. */
  def marginTopKSymmetric(corpus: DataFrame, queries: DataFrame, id: String,
                          vec: String, k: Int, kAvg: Int = 4,
                          kLists: Int = 16, iters: Int = 3,
                          seed: Long = 42L): DataFrame = {
    require(k >= 1 && kAvg >= 1 && kLists >= 1,
      s"k $k, kAvg $kAvg, kLists $kLists must be >= 1")
    val c = corpus.select(col(id).as("c_id"), col(vec).as("c_v"))
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("sim", cosineFused(col("c_v"), col("q_v")))
      .select(col("q_id"), col("c_id"), col("sim"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val ax = scored.withColumn("__r", row_number().over(wq))
      .where(col("__r") <= kAvg)
      .groupBy(col("q_id")).agg(avg(col("sim")).as("__ax"))
    val assigned =
      if (kLists == 1) c.withColumn("__cl", lit(1))
      else {
        val cents = trainIvfCentroids(corpus, vec, kLists, iters, seed)
        graft.functions.Dedup.materializeLazily(
          c.withColumn("__cl", nearestCentroid(col("c_v"), cents)))
      }
    val l = assigned.select(col("c_id").as("__ya"), col("c_v").as("__va"), col("__cl"))
    val r = assigned.select(col("c_id").as("__yb"), col("c_v").as("__vb"), col("__cl"))
    // kLists = 1: a keyed join on the CONSTANT cluster id would hash
    // every row to one shuffle partition — the exact tier cross-joins
    // instead (partition-parallel nested loop; quadratic by declared
    // design either way)
    val joined =
      if (kLists == 1) l.drop("__cl").crossJoin(r.drop("__cl"))
      else l.join(r, Seq("__cl"))
    val selfSims = joined.where(col("__ya") =!= col("__yb"))
      .withColumn("__s", cosineFused(col("__va"), col("__vb")))
      .select(col("__ya"), col("__yb"), col("__s"))
    val wy = Window.partitionBy(col("__ya")).orderBy(col("__s").desc, col("__yb"))
    val ay = selfSims.withColumn("__r", row_number().over(wy))
      .where(col("__r") <= kAvg)
      .groupBy(col("__ya").as("c_id")).agg(avg(col("__s")).as("__ay"))
    val m = scored.join(ax, "q_id").join(ay, "c_id")
      .where(col("__ax") + col("__ay") > 0)
      .withColumn("margin",
        round(col("sim") / ((col("__ax") + col("__ay")) / 2), 6))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("margin").desc, col("c_id"))
    m.withColumn("__rk", row_number().over(wRank)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), col("margin"), col("__rk").as("rank"))
  }

  /** Element-wise mean of vectors per key — the "chunk embeddings →
    * document embedding" pooling step (and the centroid audit for any
    * labeled set): posexplode to (key, pos, x) rows, one (key, pos)
    * avg with map-side partials (spillable — a giant key never
    * materializes its vectors), reassemble the ordered array.
    * Components round to 6 decimals: the group mean's fp order is
    * engine/partitioning-dependent, and rounding is the house recipe
    * that collapses that (see q1_agg etc.). `n_vecs` counts INPUT ROWS
    * per key (count(*), a separate narrow aggregate joined back on the
    * key) — not the posexplode fan-out — so rows with null/empty
    * vector arrays are counted even though they contribute nothing to
    * the mean; a key whose EVERY vector is null/empty has no pooled
    * array and is dropped (inner join), mirroring the oracle shape.
    * Output: (`key`, n_vecs, pooled). */
  def meanPoolEmbeddings(df: DataFrame, key: String, vec: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n_vecs"))
    pooledCore(df, key, vec)
      .join(counts, Seq(key))
      .select(col(key), col("n_vecs"), col("pooled"))
  }

  /** The pooling half of [[meanPoolEmbeddings]] without the row-count
    * aggregate — consumers that only need the pooled array
    * ([[centroidCosine]]) skip the extra count(*) pass + join. */
  private def pooledCore(df: DataFrame, key: String, vec: String): DataFrame = {
    val per = df
      .select(col(key), posexplode(vecD(col(vec))).as(Seq("__pos", "__x")))
      .groupBy(col(key), col("__pos"))
      .agg(round(avg(col("__x")), 6).as("__m"))
    per.groupBy(col(key))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos").as("p"), col("__m").as("m")))),
          s => s.getField("m")).as("pooled"))
  }

  /** IVF-SQ8: coarse inverted-file probe + SQ8 asymmetric scoring —
    * the same composition as [[ivfPqTopK]] with the scalar quantizer
    * in place of PQ: corpus rows carry (coarse list id, decoded SQ8
    * reconstruction), queries explode to their nprobe nearest lists
    * and broadcast, pruned candidates score by the fused decoded dot.
    * With nprobe = #lists this equals [[sq8TopK]] exactly
    * (spec-asserted). The cheap tier of the compressed-ANN matrix:
    * 1 byte/dim codes, no codebook training beyond one min/max
    * aggregate. */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                 coarse: Array[Array[Double]], mins: Array[Double],
                 maxs: Array[Double], nprobe: Int, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("c_id"),
      nearestCentroid(col(vec), coarse).as("__cid"),
      sq8Decode(sq8Encode(col(vec), mins, maxs), mins, maxs).as("c_dec"))
    val probes = transform(sequence(lit(0), lit(coarse.length - 1)),
      i => struct((-cosineFused(col(vec), element_at(centroidsLit(coarse), i + 1))).as("d"),
        (i + 1).as("cid")))
    val q = queries.select(col(id).as("q_id"), vecD(col(vec)).as("q_v"),
        explode(slice(array_sort(probes), 1, nprobe)).as("__p"))
      .select(col("q_id"), col("q_v"), col("__p.cid").as("__cid"))
    val scored = c.join(broadcast(q), "__cid")
      .where(col("c_id") =!= col("q_id"))
      .withColumn("adot", dotFused(col("q_v"), col("c_dec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adot").desc, col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("adot"), 6).as("adot"),
        col("__rk").as("rank"))
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                coarse: Array[Array[Double]], cb: Array[Array[Array[Double]]],
                nprobe: Int, k: Int): DataFrame =
    pqProbeScore(
      corpus.select(col(id).as("c_id"),
        nearestCentroid(col(vec), coarse).as("__cid"),
        pqEncode(col(vec), cb).as("c_codes")),
      queries, id, vec, coarse, cb, nprobe, k, residual = false)

  /** Shared probe-scoring for the IVF-PQ family (raw and residual
    * codes, in-memory and persisted-index corpora): queries explode to
    * their `nprobe` closest lists and broadcast one ADC lookup table
    * per probed list (from the raw query vector, or its per-list
    * residual), pruned same-list corpus rows score by table lookup,
    * per-query top-k window. `assigned` = (c_id, __cid, c_codes). */
  private def pqProbeScore(assigned: DataFrame, queries: DataFrame,
                           id: String, vec: String,
                           coarse: Array[Array[Double]],
                           cb: Array[Array[Array[Double]]],
                           nprobe: Int, k: Int,
                           residual: Boolean): DataFrame = {
    val probes = transform(sequence(lit(0), lit(coarse.length - 1)),
      i => struct((-cosineFused(col(vec), element_at(centroidsLit(coarse), i + 1))).as("d"),
        (i + 1).as("cid")))
    def lutOf(in: Column) =
      Bridge.column(graft.plans.PqLut(Bridge.expression(in), cb))
    // residual codes need one LUT PER PROBED LIST (the residual
    // depends on the list centroid) — built after the probe explode;
    // raw codes share one LUT per query, so it is built BEFORE the
    // explode (recomputing the identical m·ksub table nprobe times
    // was a measured-shape regression of the r9 refactor)
    val q =
      if (residual)
        queries.select(col(id).as("q_id"), col(vec).as("__qv"),
            explode(slice(array_sort(probes), 1, nprobe)).as("__p"))
          .select(col("q_id"), col("__p.cid").as("__cid"),
            lutOf(coarseResidual(col("__qv"), coarse, col("__p.cid"))).as("q_lut"))
      else
        queries.select(col(id).as("q_id"), lutOf(col(vec)).as("q_lut"),
            explode(slice(array_sort(probes), 1, nprobe)).as("__p"))
          .select(col("q_id"), col("q_lut"), col("__p.cid").as("__cid"))
    val scored = assigned.join(broadcast(q), "__cid")
      .where(col("c_id") =!= col("q_id"))
      .withColumn("adist",
        aggregate(zip_with(col("c_codes"), col("q_lut"),
          (cd, row) => element_at(row, cd)), lit(0.0), _ + _))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("c_id"))
    scored.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k)
      .select(col("q_id"), col("c_id"), round(col("adist"), 6).as("adist"),
        col("__rk").as("rank"))
  }

  // ------------------------------------------------------------------
  // Residual IVF-PQ: PQ over per-list residuals (the FAISS refinement)
  // ------------------------------------------------------------------

  /** `vec - coarse(cid)`: the residual of a vector against a coarse
    * centroid picked by a (1-based) list-id column. Pure projection;
    * the centroid table rides as a literal (kLists × dim doubles). */
  def coarseResidual(vec: Column, cents: Array[Array[Double]],
                     cid: Column): Column =
    zip_with(vecD(vec), element_at(centroidsLit(cents), cid),
      (x, c) => x - c)

  /** Train PQ codebooks over RESIDUALS `x - coarse(assign(x))` instead
    * of raw vectors — the FAISS IVF-PQ refinement: within one coarse
    * list the residuals span a much tighter region than the raw
    * corpus, so the same (m, ksub) budget quantizes finer, which is
    * where IVF-PQ earns its recall at billion scale. Residuals are a
    * map-side projection on the bounded training sample; training
    * itself is [[trainPqCodebooks]] unchanged. */
  def trainPqCodebooksResidual(df: DataFrame, vec: String,
                               coarse: Array[Array[Double]],
                               m: Int, ksub: Int, iters: Int = 5,
                               seed: Long = 42L, maxTrainRows: Int = 100000,
                               trainFraction: Double = 1.0): Array[Array[Array[Double]]] = {
    val res = df.select(
      coarseResidual(col(vec), coarse,
        nearestCentroid(col(vec), coarse)).as("__res"))
    trainPqCodebooks(res, "__res", m, ksub, iters, seed,
      maxTrainRows, trainFraction)
  }

  /** Residual IVF-PQ top-k ([[ivfPqTopK]] with per-list residual
    * codes): corpus rows carry (coarse list id, PQ codes of
    * `x - coarse(list)`); each probing query builds a SEPARATE ADC
    * lookup table per probed list from its own residual
    * `q - coarse(list)` (nprobe small LUTs — still broadcast-side
    * work), so the scored distance is
    * `Σ_j ||(q - c_i)_j - cb_j[code_j]||² = ||q - (c_i + decode)||²` —
    * exact squared L2 to the row's reconstruction (spec-asserted, the
    * same strong property as raw ADC). Corpus never shuffles; the
    * probe join is on the list id. Unlike the raw-code form there is
    * NO nprobe = kLists ≡ [[pqAdcTopK]] identity (codes differ per
    * list by construction) — the differential guarantee is the
    * reconstruction exactness plus the recall floor vs raw codes
    * pinned in SimilaritySpec (`tools/PqProbe --residual`). Use the
    * L2-style contract on L2-normalized inputs like the other ADC
    * paths. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, id: String,
                        vec: String, coarse: Array[Array[Double]],
                        cb: Array[Array[Array[Double]]],
                        nprobe: Int, k: Int): DataFrame =
    pqProbeScore(residualAssigned(corpus, id, vec, coarse, cb),
      queries, id, vec, coarse, cb, nprobe, k, residual = true)

  private def residualAssigned(corpus: DataFrame, id: String, vec: String,
                               coarse: Array[Array[Double]],
                               cb: Array[Array[Array[Double]]]): DataFrame =
    corpus
      .select(col(id).as("c_id"), col(vec).as("__cv"),
        nearestCentroid(col(vec), coarse).as("__cid"))
      .select(col("c_id"), col("__cid"),
        pqEncode(coarseResidual(col("__cv"), coarse, col("__cid")), cb)
          .as("c_codes"))

  /** Build and persist the compressed inverted file — the production
    * billion-vector index artifact: the corpus encodes ONCE to
    * (c_id, PQ codes) rows written `partitionBy(list id)` (probe joins
    * dynamic-partition-prune the scan to nprobe/kLists of the files,
    * exactly like [[buildIvfIndex]] — but the scanned bytes are the
    * codes table, ~dim·4/m× smaller than the raw embeddings), and the
    * driver-held model (coarse centroids, codebooks, a residual flag)
    * persists via [[graft.sources.ModelArtifacts]] in a sibling
    * `__model` directory, so a restart queries with ZERO training
    * jobs. `residual = true` (default) trains/encodes per-list
    * residual codes ([[ivfPqResidualTopK]]); false = raw codes.
    *
    * `opq = true` (r14 verdict item 8, composing the two r9/r10
    * artifacts that never met): [[trainOpqRotation]] learns the
    * orthogonal rotation FIRST, then the whole build — coarse
    * quantizer, codebooks (residual or raw), encoding — runs in the
    * ROTATED space (the IVF-OPQ composition of Ge et al. 2013: the
    * rotation comes from the non-residual alternation, the standard
    * practical simplification; codebooks are RETRAINED in the rotated
    * space so the persisted pair is consistent). The rotation matrix
    * persists beside the other artifacts and probe-time queries are
    * rotated on load — rotation is orthogonal, so cosine/L2 probe
    * semantics are unchanged. meta grows a second flag long;
    * pre-existing length-1 metas still load (no-OPQ default).
    * Returns the trained (coarse, codebooks) — both in the rotated
    * space when opq. */
  def buildIvfPqIndex(corpus: DataFrame, id: String, vec: String, path: String,
                      kLists: Int, m: Int, ksub: Int,
                      residual: Boolean = true, iters: Int = 5,
                      seed: Long = 42L, opq: Boolean = false,
                      opqOuterIters: Int = 4)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import graft.sources.ModelArtifacts
    val spark = corpus.sparkSession
    val rot: Option[Array[Array[Double]]] =
      if (opq) Some(trainOpqRotation(corpus, vec, m, ksub, opqOuterIters,
        iters, seed).rotation)
      else None
    val (corpusEff, vecEff) = rot match {
      case Some(r) =>
        (corpus.select(col(id), opqRotate(col(vec), r).as("__rv")), "__rv")
      case None => (corpus, vec)
    }
    val coarse = trainIvfCentroids(corpusEff, vecEff, kLists, iters, seed)
    val cb =
      if (residual) trainPqCodebooksResidual(corpusEff, vecEff, coarse, m, ksub, iters, seed)
      else trainPqCodebooks(corpusEff, vecEff, m, ksub, iters, seed)
    val assigned =
      if (residual) residualAssigned(corpusEff, id, vecEff, coarse, cb)
      else corpusEff.select(col(id).as("c_id"),
        nearestCentroid(col(vecEff), coarse).as("__cid"),
        pqEncode(col(vecEff), cb).as("c_codes"))
    assigned.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("__cid").parquet(path)
    ModelArtifacts.saveIvfCentroids(spark, s"${path}__model/coarse.bin", coarse)
    ModelArtifacts.savePqCodebooks(spark, s"${path}__model/pq.bin", cb)
    rot.foreach(r => ModelArtifacts.saveMatrix(spark,
      s"${path}__model/opq.bin", "opq-rotation", r))
    ModelArtifacts.saveLongVector(spark, s"${path}__model/meta.bin",
      "ivfpq-meta",
      Array(if (residual) 1L else 0L, if (opq) 1L else 0L))
    (coarse, cb)
  }

  // ------------------------------------------------------------------
  // PCA / whitening: embedding preprocessing for ANN and audits
  // ------------------------------------------------------------------

  /** Driver-held PCA model: `mean` (dim), `components` (outDim × dim,
    * orthonormal rows, descending eigenvalue order), `eigenvalues`
    * (outDim, the per-component variances). Persist via
    * `ModelArtifacts.saveMatrix/saveVector`. */
  case class PcaModel(mean: Array[Double],
                      components: Array[Array[Double]],
                      eigenvalues: Array[Double])

  /** Cyclic Jacobi eigensolver for a symmetric matrix — pure driver
    * Scala (no linear-algebra dependency), deterministic; fine for the
    * embedding-dim matrices PCA needs (dim ≤ a few hundred). Returns
    * (eigenvalues, eigenvectors as COLUMNS-extracted rows) unsorted. */
  private def jacobiEigen(a0: Array[Array[Double]],
                          sweeps: Int = 64,
                          tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < sweeps && off() > tol) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)),
      Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j))))
  }

  /** Fit a PCA projection on a bounded training sample — the
    * embedding-preprocessing step published ANN systems run before
    * quantization (OPQ's rotation is PCA-family; whitening equalizes
    * per-dimension variance so SQ8/PQ budgets spread evenly) and the
    * dimensionality-reduction step for embedding audits. Shapes: the
    * sample is bounded exactly like [[trainIvfCentroids]]'s; the mean
    * and the dim×dim second-moment matrix come from ONE posexplode
    * aggregate each (the moment explode is train_rows × dim² narrow
    * rows, map-side partial-aggregated — keep `maxTrainRows`
    * proportionate for large dims); the eigensolve is driver Jacobi
    * (deterministic). ITERATIVE at the driver → spec-only by declared
    * design. Components are orthonormal, eigenvalue-descending —
    * both spec-asserted, along with full-dim isometry and subspace
    * recovery. Do NOT compose this rotation ahead of PQ for recall:
    * r9 measured it ~neutral on near-isotropic embeddings, and the
    * r10 anisotropic probe measured it 0.2+ recall@10 WORSE than raw
    * PQ (eigenvalue-descending order concentrates variance into the
    * first subspaces — the imbalance PQ hates; bench/pqprobe_r10.txt).
    * For PQ recall use [[trainOpqRotation]]; use PCA for whitening
    * and dimensionality reduction. */
  def trainPcaProjection(df: DataFrame, vec: String, outDim: Int,
                         maxTrainRows: Int = 100000,
                         trainFraction: Double = 1.0,
                         seed: Long = 42L): PcaModel = {
    require(outDim >= 1, s"outDim $outDim must be >= 1")
    val vecs = df.select(vecD(col(vec)).as("__v"))
    val train =
      (if (trainFraction >= 1.0) vecs
       else vecs.sample(withReplacement = false, trainFraction, seed))
        .limit(maxTrainRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = train.select(size(col("__v")).as("__d"))
        .where(col("__d").isNotNull).limit(1).collect()
      require(first.nonEmpty,
        "trainPcaProjection needs a non-empty training sample with non-null " +
          "vectors (empty input, or trainFraction sampled zero rows)")
      val dim = first(0).getInt(0)
      require(outDim <= dim, s"outDim $outDim must be <= dim $dim")
      val mean = train
        .select(posexplode(col("__v")).as(Seq("__i", "__x")))
        .groupBy("__i").agg(avg(col("__x")).as("__m"))
        .orderBy("__i").collect().map(_.getDouble(1))
      // second moments E[x_i x_j]: flattened outer product, one agg
      val m2rows = train
        .select(posexplode(flatten(transform(col("__v"),
          xi => transform(col("__v"), xj => xi * xj)))).as(Seq("__p", "__x")))
        .groupBy("__p").agg(avg(col("__x")).as("__m"))
        .collect()
      val cov = Array.ofDim[Double](dim, dim)
      m2rows.foreach { r =>
        val p = r.getInt(0); val i = p / dim; val j = p % dim
        cov(i)(j) = r.getDouble(1) - mean(i) * mean(j)
      }
      val (evals, evecs) = jacobiEigen(cov)
      val order = evals.indices.sortBy(i => -evals(i)).take(outDim)
      PcaModel(mean,
        order.map(evecs).toArray,
        order.map(evals).toArray)
    } finally { train.unpersist(blocking = false); () }
  }

  /** Project a vector column through a [[PcaModel]]: component k is
    * `c_k · v - c_k · mean` (the centering folds into one driver
    * constant per component, so the projection is outDim fused dots —
    * pure map-side work). `whiten = true` additionally divides each
    * component by sqrt(eigenvalue) (unit per-component variance on the
    * training distribution; zero-variance components pass through
    * unwhitened rather than exploding). PCA preserves L2 geometry
    * (full-dim projection is an isometry on centered vectors,
    * spec-asserted) — pair with the L2-contract ANN paths; cosine is
    * NOT preserved under centering. */
  def pcaProject(vec: Column, model: PcaModel,
                 whiten: Boolean = false): Column = {
    val comps = model.components.zipWithIndex.map { case (c, k) =>
      val offset = c.zip(model.mean).map { case (a, b) => a * b }.sum
      val raw = dotFused(vecD(vec), dblArrayLit(c)) - lit(offset)
      if (whiten && model.eigenvalues(k) > 1e-12)
        raw / lit(math.sqrt(model.eigenvalues(k)))
      else raw
    }
    array(comps.toIndexedSeq: _*)
  }

  // ------------------------------------------------------------------
  // OPQ: trained orthogonal rotation ahead of PQ (Ge et al.,
  // "Optimized Product Quantization", CVPR 2013 — public paper; no
  // reference analog). The non-parametric alternation: fit PQ
  // codebooks in the rotated space, then re-solve the rotation as an
  // orthogonal Procrustes problem against the quantized
  // reconstructions, repeat. PCA-rotation-lite (r9 probe,
  // bench/pqprobe_r9.txt) only decorrelates axes; OPQ additionally
  // balances variance ACROSS subspace boundaries, which is where the
  // recall gain lives on anisotropic embedding distributions.
  // ------------------------------------------------------------------

  /** Driver-held OPQ model: `rotation` (dim × dim orthogonal, rows =
    * output components) and the PQ `codebooks` trained in the rotated
    * space. Encode a corpus with
    * `pqEncode(opqRotate(col(vec), model.rotation), model.codebooks)`;
    * rotation is an L2 isometry, so every PQ/ADC contract holds
    * unchanged on rotated vectors (rotate BOTH corpus and queries).
    * Persist via `ModelArtifacts.saveMatrix` + `savePqCodebooks`. */
  case class OpqModel(rotation: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]])

  /** Apply a driver-held rotation (or any dense linear map) to a
    * vector column: output component r = `matrix(r) · v`. Fused
    * codegen kernel ([[graft.plans.MatVec]] — the matrix rides as a
    * plan reference object; a per-component `dotFused`+literal
    * composition would inline dim² literals, the repo's measured
    * Janino-compile-bound shape). Pure projection, no shuffle — at
    * 100 TB this rides the same one-pass corpus encode as
    * [[pqEncode]]. */
  def opqRotate(vec: Column, rotation: Array[Array[Double]]): Column =
    Bridge.column(graft.plans.MatVec(Bridge.expression(vec), rotation))

  /** Orthogonal Procrustes solve: the R = U·Vᵀ maximizing
    * `tr(Rᵀ M)` over orthogonal R, from the SVD M = U·S·Vᵀ computed
    * with the existing [[jacobiEigen]] on MᵀM (driver-side, dim ≤ a
    * few hundred by the same contract as PCA). Degenerate singular
    * directions (rank-deficient M) are completed to an orthonormal
    * basis by Gram-Schmidt — any completion is optimal there, and the
    * deterministic e_k sweep keeps the result reproducible. */
  private def procrustesRotation(mm: Array[Array[Double]]): Array[Array[Double]] = {
    val n = mm.length
    val g = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < n) { s += mm(k)(i) * mm(k)(j); k += 1 }
      s
    }
    val (evals, evecs) = jacobiEigen(g)
    val order = evals.indices.sortBy(i => -evals(i)).toArray
    val v = order.map(evecs)
    val sMax = math.sqrt(math.max(order.map(evals).headOption.getOrElse(0.0), 0.0))
    val tol = math.max(sMax, 1e-300) * 1e-8
    // U columns by modified Gram-Schmidt in descending-s order: dividing
    // M·v_j by the EIGENVALUE's sqrt amplifies Jacobi's absolute
    // convergence error for small singular values (measured 4e-4
    // orthonormality drift on a decaying spectrum) — normalize by the
    // actual column norm and explicitly orthogonalize instead, folding
    // the rank-deficient completion into the same sweep.
    val u = Array.ofDim[Array[Double]](n)
    def projOut(c: Array[Double], upTo: Int): Unit = {
      var k = 0
      while (k < upTo) {
        var d = 0.0; var i = 0
        while (i < n) { d += c(i) * u(k)(i); i += 1 }
        i = 0
        while (i < n) { c(i) -= d * u(k)(i); i += 1 }
        k += 1
      }
    }
    var j = 0
    while (j < n) {
      val vj = v(j)
      val c = Array.tabulate(n) { i =>
        var acc = 0.0; var k = 0
        while (k < n) { acc += mm(i)(k) * vj(k); k += 1 }
        acc
      }
      projOut(c, j)
      val nrm = math.sqrt(c.map(x => x * x).sum)
      if (nrm > tol) u(j) = c.map(_ / nrm)
      else {
        // degenerate direction: any orthonormal completion is optimal;
        // deterministic e_k sweep keeps the result reproducible
        var picked: Array[Double] = null
        var e = 0
        while (picked == null && e < n) {
          val cand = Array.tabulate(n)(i => if (i == e) 1.0 else 0.0)
          projOut(cand, j)
          val cn = math.sqrt(cand.map(x => x * x).sum)
          if (cn > 1e-8) picked = cand.map(_ / cn)
          e += 1
        }
        require(picked != null, "procrustesRotation: orthonormal completion failed")
        u(j) = picked
      }
      j += 1
    }
    Array.tabulate(n, n) { (i, k) =>
      var acc = 0.0; var jj = 0
      while (jj < n) { acc += u(jj)(i) * v(jj)(k); jj += 1 }
      acc
    }
  }

  /** Train an OPQ rotation + codebooks by non-parametric alternation
    * (Ge et al. 2013): per outer round, (1) PQ codebooks fit in the
    * current rotated space ([[trainPqCodebooks]], `pqIters` Lloyd
    * steps), (2) the rotation re-solved as orthogonal Procrustes
    * against the quantized reconstructions — minimizing
    * `Σ ‖R·x − decode(encode(R·x))‖²` with codes fixed. The
    * correlation matrix `M = Σ y·xᵀ` comes from ONE outer-product
    * aggregate per round over the bounded cached sample (the exact
    * shape of [[trainPcaProjection]]'s moment pass — train_rows × dim²
    * narrow rows, map-side partial-aggregated; generator child kept
    * inline per the repo's InferFiltersFromGenerate rule); the
    * Procrustes SVD is driver Jacobi. Codebooks are refit once more
    * after the final rotation update so the returned pair is
    * consistent. ITERATIVE at the driver → spec-only by declared
    * design (same class as k-means/BPE/PCA training); the spec
    * asserts rotation orthonormality and that OPQ's quantization
    * error ≤ raw PQ's on an anisotropic fixture. */
  def trainOpqRotation(df: DataFrame, vec: String, m: Int, ksub: Int,
                       outerIters: Int = 4, pqIters: Int = 3,
                       seed: Long = 42L, maxTrainRows: Int = 100000,
                       trainFraction: Double = 1.0): OpqModel = {
    require(outerIters >= 1, s"outerIters $outerIters must be >= 1")
    val vecs = df.select(vecD(col(vec)).as("__v"))
    val train =
      (if (trainFraction >= 1.0) vecs
       else vecs.sample(withReplacement = false, trainFraction, seed))
        .limit(maxTrainRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = train.select(size(col("__v")).as("__d"))
        .where(col("__d").isNotNull).limit(1).collect()
      require(first.nonEmpty,
        "trainOpqRotation needs a non-empty training sample with non-null " +
          "vectors (empty input, or trainFraction sampled zero rows)")
      val dim = first(0).getInt(0)
      require(dim % m == 0, s"dim $dim must divide evenly into m=$m subspaces")
      var rot: Array[Array[Double]] =
        Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      var it = 0
      while (it < outerIters) {
        val rotated = train.select(opqRotate(col("__v"), rot).as("__r"))
        val cb = trainPqCodebooks(rotated, "__r", m, ksub, pqIters, seed,
          maxTrainRows = maxTrainRows)
        // M = Σ y·xᵀ with y = decode(encode(R·x)) — expensive expression
        // stays INLINE as the generator child (never aliased+exploded)
        val mRows = train
          .select(posexplode(flatten(transform(
            pqDecode(pqEncode(opqRotate(col("__v"), rot), cb), cb),
            yi => transform(col("__v"), xj => yi * xj)))).as(Seq("__p", "__e")))
          .groupBy("__p").agg(sum(col("__e")).as("__s"))
          .collect()  // dim² rows — driver-held by construction
        val mm = Array.ofDim[Double](dim, dim)
        mRows.foreach { r0 =>
          val p = r0.getInt(0); mm(p / dim)(p % dim) = r0.getDouble(1)
        }
        rot = procrustesRotation(mm)
        it += 1
      }
      val finalRotated = train.select(opqRotate(col("__v"), rot).as("__r"))
      val finalCb = trainPqCodebooks(finalRotated, "__r", m, ksub, pqIters,
        seed, maxTrainRows = maxTrainRows)
      OpqModel(rot, finalCb)
    } finally { train.unpersist(blocking = false); () }
  }

  /** Query a persisted [[buildIvfPqIndex]]: loads the model artifacts
    * (driver-side reads, no jobs), then scores the partitioned codes
    * table with the matching raw/residual ADC — same semantics as
    * [[ivfPqTopK]] / [[ivfPqResidualTopK]] on the original corpus
    * (spec-asserted), with the scan pruned to the probed lists. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, id: String, vec: String,
                       nprobe: Int, k: Int): DataFrame = {
    import graft.sources.ModelArtifacts
    val coarse = ModelArtifacts.loadIvfCentroids(spark, s"${path}__model/coarse.bin")
    val cb = ModelArtifacts.loadPqCodebooks(spark, s"${path}__model/pq.bin")
    val meta = ModelArtifacts.loadLongVector(spark,
      s"${path}__model/meta.bin", "ivfpq-meta")
    val residual = meta(0) == 1L
    // meta(1) = OPQ flag (r15); pre-OPQ indexes persisted length-1
    // metas — absent means no rotation
    val qEff =
      if (meta.length > 1 && meta(1) == 1L) {
        val rot = ModelArtifacts.loadMatrix(spark,
          s"${path}__model/opq.bin", "opq-rotation")
        queries.select(col(id), opqRotate(col(vec), rot).as(vec))
      } else queries
    pqProbeScore(GraftIO.readParquet(spark, path), qEff, id, vec, coarse, cb,
      nprobe, k, residual)
  }
}
