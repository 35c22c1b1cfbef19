package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pre-kernel and naive forms of graft functions, kept as the
  * references of the differential specs: each shipping kernel or
  * rewrite is asserted bit-equal (or output-equal) to its form here.
  * None of these runs on a production path; several are quadratic by
  * design. */
object ReferenceForms {

  // ---------------- TextFunctions ----------------------------------

  // run-length entropy fold: H = ln(N) - (sum c*ln(c)) / N in nats over
  // the element distribution of a SORTED array, clamped at 0.0 (the
  // all-equal case lands within an ulp of ±0.0)
  private def runEntropy(arr: Column): Column = {
    val sorted = sort_array(arr)
    val n = size(sorted)
    val folded = aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("acc")),
      (st, x) => when(x === st.getField("prev"),
        struct(st.getField("prev").as("prev"),
          (st.getField("run") + 1L).as("run"), st.getField("acc").as("acc")))
        .otherwise(struct(x.as("prev"), lit(1L).as("run"),
          (st.getField("acc") + when(st.getField("run") > 0,
            st.getField("run") * log(st.getField("run"))).otherwise(0.0))
            .as("acc"))),
      st => st.getField("acc") + when(st.getField("run") > 0,
        st.getField("run") * log(st.getField("run"))).otherwise(0.0))
    val h = log(n.cast("double")) - folded / n.cast("double")
    when(n === 0 || h <= 0.0, lit(0.0)).otherwise(h)
  }

  /** Columnar reference for [[graft.plans.ShannonEntropy]] over code
    * points ([[TextFunctions.charEntropy]]). */
  def charEntropyColumnar(text: Column): Column =
    runEntropy(split(text, ""))

  /** Columnar reference for [[graft.plans.ShannonEntropy]] over
    * whitespace tokens ([[TextFunctions.tokenEntropy]]). */
  def tokenEntropyColumnar(text: Column): Column =
    runEntropy(TextFunctions.tokens(text))

  /** Columnar reference for [[graft.plans.LangVotes]]
    * ([[TextFunctions.langId]]): one stopword-hit score per language, a
    * left fold keeping the strictly-greater candidate, so an earlier
    * language wins ties. */
  def langIdColumnar(toks: Column): Column = {
    val scored = TextFunctions.defaultStopwords.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    scored.reduceLeft((best, cand) =>
      when(cand.getField("score") > best.getField("score"), cand).otherwise(best))
      .getField("lang")
  }

  /** Columnar reference for [[graft.plans.Fingerprint]]
    * ([[TextFunctions.fingerprint]]): fold (acc*31 + codepoint) mod
    * 1e9+7 over the characters. */
  def fingerprintColumnar(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), greatest(length(text), lit(1))),
        i => call_function("ascii", call_function("substring", text, i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31L + c) % 1000000007L)

  /** Columnar reference for the strided [[graft.plans.TokenGrams]]
    * ([[TextFunctions.chunkTokens]]). */
  def chunkTokensColumnar(toks: Column, chunkSize: Int,
                          overlap: Int = 0): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    transform(
      sequence(lit(1), greatest(size(toks) - overlap, lit(1)), lit(step)),
      i => concat_ws(" ", slice(toks, i, lit(chunkSize))))
  }

  /** HOF reference for the per-position [[graft.plans.TokenGrams]]
    * (TextFunctions' positional word n-grams). */
  def positionalGramsColumnar(toks: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  // ---------------- Dedup -------------------------------------------

  /** Columnar reference for [[graft.plans.CharShingles]]
    * ([[Dedup.charShingles]]). */
  def charShinglesColumnar(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => Dedup.substr(text, i, n)))

  /** The naive blocked all-pairs form of [[Dedup.ngramJaccardPairs]],
    * which now delegates to the prefix-filter machinery of
    * [[Dedup.jaccardPairsExact]]. Quadratic in block size. */
  def ngramJaccardPairsAllPairs(df: DataFrame, id: String, text: String,
                                n: Int, threshold: Double,
                                blockBy: Option[String] = None): DataFrame = {
    val withSh = df.select(Seq(col(id).as("__id"),
      Dedup.charShingles(col(text), n).as("__sh")) ++
      blockBy.map(c => col(c).as("__blk")): _*)
    val l = withSh.select(Seq(col("__id").as("id_a"), col("__sh").as("sh_a")) ++
      blockBy.map(_ => col("__blk").as("blk_a")): _*)
    val r = withSh.select(Seq(col("__id").as("id_b"), col("__sh").as("sh_b")) ++
      blockBy.map(_ => col("__blk").as("blk_b")): _*)
    val joined = blockBy match {
      case Some(_) => l.join(r, col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
      case None    => l.join(r, col("id_a") < col("id_b"))
    }
    joined
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Columnar winnowing reference for [[graft.plans.WinnowAnchors]]
    * (`Dedup.anchorSites`), on both hash tiers: per-position k-gram
    * hashes, then the distinct minimum (hash, pos) of each window of
    * `w`. O(len·w) slice/compare per doc. */
  def anchorSitesColumnar(df: DataFrame, id: String, text: Column,
                          k: Int, w: Int, byMd5: Boolean): DataFrame = {
    require(k >= 1 && w >= 2, s"k $k must be >= 1 and w $w >= 2")
    val gramHash: Column => Column =
      if (byMd5) md5Gram60 else (g => xxhash64(g))
    val t = col("__t")
    val nh = length(t) - (k - 1)
    val hs = transform(sequence(lit(1), greatest(nh, lit(1))),
      i => gramHash(Dedup.substr(t, i, k)))
    val sitesExpr = zip_with(hs, sequence(lit(1), greatest(nh, lit(1))),
      (h, p) => struct(h.as("h"), p.as("p")))
    // the (hash, pos) array MUST land in its own projection and be
    // referenced more than once downstream: a single-use alias gets
    // inlined into the windowed-min lambda by CollapseProject, and
    // every window start then recomputes ALL nh gram hashes —
    // O(len²·k) per doc (measured 60 s for 500 300-char docs vs <1 s
    // in this form; the CLAUDE.md columnar-CDC lesson).
    val sites = col("__sites")
    val sel = when(size(sites) >= w,
      array_distinct(transform(
        sequence(lit(1), size(sites) - (w - 1)),
        s => array_min(slice(sites, s, lit(w))))))
      .otherwise(array().cast("array<struct<h:bigint,p:int>>"))
    df.select(col(id).as("__id"), text.as("__t"))
      .select(col("__id"), sitesExpr.as("__sites"))
      .select(col("__id"), explode(sel).as("__a"))
      .select(col("__id"), col("__a.p").as("__pos"), col("__a.h").as("__h"))
  }

  // 60-bit md5 gram hash: DuckDB replays it as ('0x' || md5-prefix)::BIGINT
  private def md5Gram60(g: Column): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  // ---------------- Similarity --------------------------------------

  /** Composable built-ins reference for [[graft.plans.PqEncode]]
    * ([[Similarity.pqEncode]]): codebooks as a nested literal,
    * `transform`/`slice`/`array_position`. Its m·ksub·dsub-literal
    * generated code is Janino-compile-bound. */
  def pqEncodeColumnar(vec: Column, cb: Array[Array[Array[Double]]]): Column = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val cbl = Similarity.codebooksLit(cb)
    val v = Similarity.vecD(vec)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(v, j * dsub + 1, lit(dsub))
      val dists = transform(element_at(cbl, j + 1), c => sqL2(sub, c))
      array_position(dists, array_min(dists)).cast("int")
    })
  }

  // squared L2 distance between two equal-length double arrays
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  // ---------------- Corpus ------------------------------------------

  /** The wedge-join triangle form, the default before the edge-iterator
    * intersect form of [[Corpus.triangleCounts]] replaced it (r11,
    * bench/triangleprobe_r11.txt): degree orientation (Suri &
    * Vassilvitskii 2011), wedges from ONE self-equi-join of the oriented
    * list on the apex (Σ outdeg² rows), closed by ONE more equi-join.
    * Each triangle materializes exactly once (at its lowest-rank apex),
    * then explodes to its 3 corners. */
  def triangleCountsWedge(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val oriented = Corpus.orientEdges(edges, src, dst)
    // undirected degree: each canonical edge appears once, oriented
    val deg = oriented.select(col("__f").as("__n"))
      .union(oriented.select(col("__t").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val od = oriented.join(deg.select(col("__n").as("__t"), col("__d").as("__dt")), "__t")
    val w1 = od.select(col("__f"), col("__t").as("__b"), col("__dt").as("__db"))
    val w2 = od.select(col("__f"), col("__t").as("__c"), col("__dt").as("__dc"))
    val wedges = w1.join(w2, "__f")
      .where(struct(col("__db"), col("__b")) < struct(col("__dc"), col("__c")))
    val closing = oriented.select(col("__f").as("__b"), col("__t").as("__c"))
    val tris = wedges.join(closing, Seq("__b", "__c"), "left_semi")
      .select(col("__f"), col("__b"), col("__c"))
    tris.select(explode(array(col("__f"), col("__b"), col("__c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .select(col("node").cast("string").as("node"), col("triangles"))
  }
}
