package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Corpus, Dedup}
import org.apache.spark.sql.DataFrame

class CorpusSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/orders.parquet")

  test("mixByWeights samples each source at its rate, deterministically per seed") {
    val a = docs.withColumn("src", lit("a"))
    val b = docs.withColumn("src", lit("b"))
    val mixed = Corpus.mixByWeights(Seq(a -> 0.8, b -> 0.2), seed = 7L)
    val bySrc = mixed.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(bySrc("a") / n - 0.8) < 0.05)
    assert(math.abs(bySrc("b") / n - 0.2) < 0.05)
    // same seed → identical mixture (stable under re-execution)
    val again = Corpus.mixByWeights(Seq(a -> 0.8, b -> 0.2), seed = 7L)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
  }

  test("splitByHash: disjoint, exhaustive, deterministic, ~proportional") {
    val (train, hold) = Corpus.splitByHash(docs, col("o_orderkey"), 1, 10)
    val nT = train.count(); val nH = hold.count(); val n = docs.count()
    assert(nT + nH == n)
    assert(train.join(hold, Seq("o_orderkey"), "inner").count() == 0)
    assert(math.abs(nH.toDouble / n - 0.1) < 0.03)
    // re-split after a repartition gives the identical holdout set
    val (_, hold2) = Corpus.splitByHash(docs.repartition(7), col("o_orderkey"), 1, 10)
    assert(hold.select("o_orderkey").exceptAll(hold2.select("o_orderkey")).isEmpty)
  }

  test("splitByMd5: disjoint, exhaustive, repartition-invariant, ~proportional") {
    val (train, hold) = Corpus.splitByMd5(docs, col("o_orderkey"), 2, 10)
    val nT = train.count(); val nH = hold.count(); val n = docs.count()
    assert(nT + nH == n)
    assert(train.join(hold, Seq("o_orderkey"), "inner").count() == 0)
    assert(math.abs(nH.toDouble / n - 0.2) < 0.04)
    val (_, hold2) = Corpus.splitByMd5(docs.repartition(7), col("o_orderkey"), 2, 10)
    assert(hold.select("o_orderkey").exceptAll(hold2.select("o_orderkey")).isEmpty)
    // different seed draws a different holdout
    val (_, hold3) = Corpus.splitByMd5(docs, col("o_orderkey"), 2, 10, seed = 7L)
    assert(hold.select("o_orderkey").exceptAll(hold3.select("o_orderkey")).count() > 0)
  }

  test("mixByWeightsByHash: ~proportional and invariant under repartitioning") {
    val a = docs.withColumn("src", lit("a"))
    val b = docs.withColumn("src", lit("b"))
    val mixed = Corpus.mixByWeightsByHash(Seq(
      (a, col("o_orderkey"), 0.75), (b, col("o_orderkey"), 0.25)))
    val bySrc = mixed.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(bySrc("a") / n - 0.75) < 0.05)
    assert(math.abs(bySrc("b") / n - 0.25) < 0.05)
    // unlike df.sample, the hash draw survives repartitioning untouched
    val again = Corpus.mixByWeightsByHash(Seq(
      (a.repartition(13), col("o_orderkey"), 0.75),
      (b.repartition(3), col("o_orderkey"), 0.25)))
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // weight edges: 0 keeps nothing, 1 keeps everything
    assert(Corpus.mixByWeightsByHash(Seq((a, col("o_orderkey"), 0.0))).isEmpty)
    assert(Corpus.mixByWeightsByHash(Seq((a, col("o_orderkey"), 1.0))).count() == n.toLong)
  }

  test("mixByWeightsUpsampled: full copies + exact fractional draw, superset on raise") {
    val a = docs.select(col("o_orderkey")).withColumn("src", lit("a"))
    val n = a.count()
    // 2.25: exactly 2 full copies plus a ~quarter draw at copy index 2
    val up = Corpus.mixByWeightsUpsampled(Seq((a, col("o_orderkey"), 2.25)))
    val byCopy = up.groupBy("copy").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCopy(0L) == n && byCopy(1L) == n)
    assert(math.abs(byCopy(2L).toDouble / n - 0.25) < 0.05)
    assert(byCopy.keySet == Set(0L, 1L, 2L))
    // integer weight: no fractional tier at all
    val two = Corpus.mixByWeightsUpsampled(Seq((a, col("o_orderkey"), 2.0)))
    assert(two.count() == 2 * n &&
      two.select("copy").distinct().count() == 2)
    // weight 0 contributes nothing (schema preserved); [0,1] weights
    // reproduce the plain hash mixture rows at copy 0
    assert(Corpus.mixByWeightsUpsampled(Seq((a, col("o_orderkey"), 0.0))).isEmpty)
    val q = Corpus.mixByWeightsUpsampled(Seq((a, col("o_orderkey"), 0.25)))
    val plain = Corpus.mixByWeightsByHash(Seq((a, col("o_orderkey"), 0.25)))
    assert(q.drop("copy").exceptAll(plain).isEmpty &&
      plain.exceptAll(q.drop("copy")).isEmpty)
    // raising a weight only ADDS (id, copy) rows — incremental remixes
    val low = Corpus.mixByWeightsUpsampled(Seq((a, col("o_orderkey"), 1.25)))
    assert(low.exceptAll(up).isEmpty)
    // repartition-invariant
    val re = Corpus.mixByWeightsUpsampled(Seq((a.repartition(7), col("o_orderkey"), 2.25)))
    assert(up.exceptAll(re).isEmpty && re.exceptAll(up).isEmpty)
  }

  test("bucketByQuantiles: parity with bucketByRank in both orientations, ties, nulls") {
    // 90 distinct scores, 3 buckets: ntile boundaries fall exactly on
    // the 1/3 and 2/3 order statistics, so the quantile form (exact
    // cutoffs, relativeError = 0) must reproduce ntile bucket-for-bucket
    val df = spark.range(1, 91).select(col("id"), (col("id") * 10).cast("double").as("score"))
    val asc = Corpus.bucketByQuantiles(df, "score", 3, relativeError = 0)
      .select(col("id"), col("bucket"))
    val ascRank = Corpus.bucketByRank(df, Seq(col("score"), col("id")), 3)
      .select(col("id"), col("bucket"))
    assert(asc.exceptAll(ascRank).isEmpty && ascRank.exceptAll(asc).isEmpty)
    val desc = Corpus.bucketByQuantiles(df, "score", 3, relativeError = 0, descending = true)
      .select(col("id"), col("bucket"))
    val descRank = Corpus.bucketByRank(df, Seq(col("score").desc, col("id")), 3)
      .select(col("id"), col("bucket"))
    assert(desc.exceptAll(descRank).isEmpty && descRank.exceptAll(desc).isEmpty)
    // orientation is actually inverted: top score is bucket 1 only desc
    assert(desc.where(col("id") === 90).head().getInt(1) == 1)
    assert(asc.where(col("id") === 90).head().getInt(1) == 3)
    // tie-at-cutoff: all rows sharing the cutoff score land in ONE
    // bucket — the lower scores' side in both orientations
    val ties = Seq(1.0, 2.0, 2.0, 2.0, 3.0, 4.0, 5.0, 6.0).toDF("score")
    val tAsc = Corpus.bucketByQuantiles(ties, "score", 2, relativeError = 0)
    val cutoff = ties.stat.approxQuantile("score", Array(0.5), 0)(0)
    val tiedBuckets = tAsc.where(col("score") === cutoff)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(tiedBuckets == Seq(1), s"asc ties split: $tiedBuckets")
    val tDesc = Corpus.bucketByQuantiles(ties, "score", 2, relativeError = 0,
      descending = true)
    val tiedDesc = tDesc.where(col("score") === cutoff)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(tiedDesc == Seq(2), s"desc ties split: $tiedDesc")
    // null score -> null bucket, never silently bucket 1
    val withNull = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("score")
    val nb = Corpus.bucketByQuantiles(withNull, "score", 2, relativeError = 0)
    assert(nb.where(col("score").isNull).head().isNullAt(1))
    assert(nb.where(col("score").isNotNull && col("bucket").isNull).count() == 0)
  }

  test("corpusStats: one-row audit with exact counts and percentiles") {
    val df = Seq(
      ("a b c", "s1"),      // 3 tokens, 5 chars
      ("a b", "s1"),        // 2 tokens, 3 chars
      ("onetoken", "s2"),   // 1 token, 8 chars
      ("", "s2")            // 0 tokens, 0 chars
    ).toDF("text", "source")
    val r = Corpus.corpusStats(df, col("text"), col("source")).head()
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("n_chars") == 16L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Double]("avg_tokens") == 1.5)
    assert(r.getAs[Long]("min_tokens") == 0L)
    assert(r.getAs[Long]("max_tokens") == 3L)
    // sorted token counts [0,1,2,3]: p50 interpolates to 1.5, p90 to 2.7
    assert(r.getAs[Double]("p50_tokens") == 1.5)
    assert(r.getAs[Double]("p90_tokens") == 2.7)
  }

  test("corpusStatsBy groups the audit by key; kFoldByMd5 partitions deterministically") {
    val df = Seq(
      ("a b c", "s1"), ("a b", "s1"), ("onetoken", "s2"), ("", "s2")
    ).toDF("text", "source")
    val by = Corpus.corpusStatsBy(df, Seq("source"), col("text"), col("source"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(by("s1") == ((2L, 5L)) && by("s2") == ((2L, 1L)))

    val folds = Corpus.kFoldByMd5(docs.select(col("o_orderkey")), col("o_orderkey"), k = 5)
    val counts = folds.groupBy("fold").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(counts.keySet == Set(1, 2, 3, 4, 5))      // all folds populated
    assert(counts.values.sum == n)                    // exhaustive partition
    counts.values.foreach(c =>                        // ~balanced
      assert(math.abs(c - n / 5.0) / (n / 5.0) < 0.2, s"unbalanced: $counts"))
    // repartition-invariant assignment
    val again = Corpus.kFoldByMd5(docs.select(col("o_orderkey")).repartition(7),
      col("o_orderkey"), k = 5)
    assert(folds.exceptAll(again).isEmpty && again.exceptAll(folds).isEmpty)
  }

  test("sketches: HLL and approx percentile land within advertised error") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val exact = li.agg(count_distinct(col("l_orderkey"))).head().getLong(0)
    val approx = li.agg(Corpus.approxCountDistinct(col("l_orderkey"), 0.01))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    val exactP50 = li.agg(expr("percentile(l_extendedprice, 0.5)")).head().getDouble(0)
    val approxP50 = li.agg(Corpus.approxPercentile(col("l_extendedprice"), 0.5))
      .head().getDouble(0)
    assert(math.abs(approxP50 - exactP50) / exactP50 < 0.02)
  }

  private def saltedMd5Str(id: Long, seed: Long = 42L): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s"$id$seed".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("hashRank matches the single-window global rank and is repartition-invariant") {
    val df = docs.select(col("o_orderkey"))
    import org.apache.spark.sql.expressions.Window
    val want = df.withColumn("pos", row_number().over(Window.orderBy(
        md5(concat(col("o_orderkey").cast("string"), lit("42"))), col("o_orderkey")))
        .cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Corpus.hashRank(df, "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    val got2 = Corpus.hashRank(df.repartition(13), "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == want)
    // ranks are a permutation of 1..n
    assert(got.values.toSeq.sorted == (1L to want.size.toLong))
  }

  test("hashRankBy matches per-key single-window ranks; capPerKeyByHash keeps the n lowest") {
    import org.apache.spark.sql.expressions.Window
    val df = docs.select(col("o_orderkey"), col("o_orderstatus"))
    val want = df.withColumn("pos", row_number().over(
        Window.partitionBy(col("o_orderstatus")).orderBy(
          md5(concat(col("o_orderkey").cast("string"), lit("42"))), col("o_orderkey")))
        .cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Corpus.hashRankBy(df, Seq("o_orderstatus"), "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want)
    val got2 = Corpus.hashRankBy(df.repartition(13), Seq("o_orderstatus"), "o_orderkey")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2 == want)
    // capPerKeyByHash n=7 ≡ the ids whose per-key rank <= 7
    val capped = Corpus.capPerKeyByHash(df, Seq("o_orderstatus"), "o_orderkey", n = 7)
      .collect().map(_.getLong(0)).toSet
    assert(capped == want.filter(_._2 <= 7L).keySet)
    val capped2 = Corpus
      .capPerKeyByHash(df.repartition(9), Seq("o_orderstatus"), "o_orderkey", n = 7)
      .collect().map(_.getLong(0)).toSet
    assert(capped2 == capped)
  }

  test("hashRankBy: separator characters in key values cannot alias distinct key tuples") {
    // ("ab", "c") and ("a", "bc") concatenate identically
    // without escaping — each group must still get an independent
    // 1..n rank sequence, not interleaved ranks from a merged offset
    // entry.
    val rows = (1L to 6L).map(i => (i, "ab", "c")) ++
      (11L to 14L).map(i => (i, "a", "bc")) ++
      (21L to 23L).map(i => (i, "a\\", "c")) // backslash near the sep
    val df = rows.toDF("id", "k1", "k2")
    val got = Corpus.hashRankBy(df, Seq("k1", "k2"), "id")
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    assert(got(("ab", "c")) == (1L to 6L), s"group1: $got")
    assert(got(("a", "bc")) == (1L to 4L), s"group2: $got")
    assert(got(("a\\", "c")) == (1L to 3L), s"group3: $got")
  }

  test("sampleWeightedByHash: heavy rows win, deterministic, drops nonpositive weights") {
    val df = ((1L to 10L).map(i => (i, 1.0)) :+ ((99L, 1000.0)))
      .toDF("id", "w")
    // weight 1000 vs ten weight-1 rows: P(heavy wins a k=1 draw) ≈ 0.99
    // per seed — across 20 seeds, losing 3+ times has prob ~1e-4
    val wins = (1L to 20L).count { seed =>
      Corpus.sampleWeightedByHash(df, col("id"), col("w"), k = 1, seed = seed)
        .head().getLong(0) == 99L
    }
    assert(wins >= 17, s"heavy row won only $wins/20 draws")
    // deterministic + repartition-invariant set
    val a = Corpus.sampleWeightedByHash(df, col("id"), col("w"), k = 5)
      .collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleWeightedByHash(df.repartition(7), col("id"), col("w"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 5)
    // zero/negative/null weights carry no draw probability
    val dirty = Seq((1L, 0.0), (2L, -3.0), (4L, 2.0))
      .toDF("id", "w")
      .union(Seq((3L, null.asInstanceOf[java.lang.Double])).toDF("id", "w"))
    val kept = Corpus.sampleWeightedByHash(dirty, col("id"), col("w"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L))
    // per-key twin: k per key, and each key's set equals the global
    // form applied to that key alone (same keys, same draw)
    val keyed = ((1L to 30L).map(i => (i, "a", 1.0 + (i % 3))) ++
      (31L to 40L).map(i => (i, "b", 2.0))).toDF("id", "k", "w")
    val per = Corpus.sampleWeightedPerKeyByHash(keyed, Seq("k"), col("id"),
        col("w"), k = 4)
      .collect().map(r => r.getString(1) -> r.getLong(0))
    assert(per.groupBy(_._1).view.mapValues(_.size).toMap == Map("a" -> 4, "b" -> 4))
    val aOnly = Corpus.sampleWeightedByHash(keyed.where(col("k") === "a"),
        col("id"), col("w"), k = 4)
      .collect().map(_.getLong(0)).toSet
    assert(per.filter(_._1 == "a").map(_._2).toSet == aOnly)
  }

  test("interleaveByWeights: every prefix holds sources in ~weight proportion") {
    val df = ((1L to 200L).map(i => (i, "A")) ++ (1001L to 1100L).map(i => (i, "B")))
      .toDF("id", "src")
    val out = Corpus.interleaveByWeights(df, "src", "id", Map("A" -> 2.0, "B" -> 1.0))
    // pos within source = hashRankBy rank; ikey = pos / weight
    val rows = out.select(col("src"), col("pos"), col("ikey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.forall { case (s, p, k) =>
      k == p.toDouble / (if (s == "A") 2.0 else 1.0) })
    // sorted by (ikey, src, pos): any prefix has ~2 A per B (within the
    // deterministic-interleave ±2 slack)
    val order = rows.sortBy { case (s, p, k) => (k, s, p) }
    Seq(30, 90, 150, 300).foreach { n =>
      val (a, b) = order.take(n).partition(_._1 == "A")
      assert(math.abs(a.size - 2 * b.size) <= 2,
        s"prefix $n: ${a.size} A vs ${b.size} B")
    }
    // weight map default: unknown source gets defaultWeight 1.0
    val out2 = Corpus.interleaveByWeights(df, "src", "id", Map("A" -> 2.0))
    assert(out2.where(col("src") === "B").select(col("ikey") === col("pos").cast("double"))
      .collect().forall(_.getBoolean(0)))
  }

  test("sampleToTokenBudget keeps exactly the maximal hash-ordered prefix") {
    val df = docs.select(col("o_orderkey"), (col("o_orderkey") % 7 + 1).as("nt"))
    val budget = 200L
    val kept = Corpus.sampleToTokenBudget(df, "o_orderkey", col("nt"), budget)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    // reference: brute-force prefix over the hash order on the driver
    val all = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) => (saltedMd5Str(id), id) }
    var cum = 0L
    val want = all.takeWhile { case (_, nt) => cum += nt; cum <= budget }
      .map(_._1).toSet
    assert(kept == want && kept.nonEmpty)
    // repartition-invariant; zero budget → empty
    val kept2 = Corpus.sampleToTokenBudget(df.repartition(9), "o_orderkey",
      col("nt"), budget).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(kept2 == want)
    assert(Corpus.sampleToTokenBudget(df, "o_orderkey", col("nt"), 0L).isEmpty)
  }

  test("samplePerKeyTokenBudget = global budget applied independently per key") {
    val df = docs.select(col("o_orderkey"), col("o_orderpriority"),
      (col("o_orderkey") % 5 + 1).as("nt"))
    val budget = 40L
    val got = Corpus.samplePerKeyTokenBudget(df, Seq("o_orderpriority"),
        "o_orderkey", col("nt"), budget)
      .select("o_orderpriority", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val keys = df.select("o_orderpriority").distinct().collect().map(_.getString(0))
    val want = keys.flatMap { k =>
      Corpus.sampleToTokenBudget(df.where(col("o_orderpriority") === k),
          "o_orderkey", col("nt"), budget)
        .select("o_orderkey").collect().map(r => (k, r.getLong(0)))
    }.toSet
    assert(got == want && got.nonEmpty)
    // every key's kept token total respects the budget
    val totals = Corpus.samplePerKeyTokenBudget(df, Seq("o_orderpriority"),
        "o_orderkey", col("nt"), budget)
      .groupBy("o_orderpriority").agg(sum("nt").as("t"))
      .collect().map(_.getLong(1))
    assert(totals.forall(_ <= budget))
  }

  test("mixByTemperature: alpha=1 no-op, alpha=0 equalizes, smallest source kept whole") {
    val df = docs.select(col("o_orderkey"),
      when(col("o_orderkey") % 10 < 6, "big")
        .when(col("o_orderkey") % 10 < 9, "mid").otherwise("small").as("grp"))
    val n = df.count().toDouble
    // alpha = 1: every rate is 1 → identity
    assert(Corpus.mixByTemperature(df, "grp", col("o_orderkey"), alpha = 1.0)
      .count() == n.toLong)
    // alpha = 0: expected counts equalize to the smallest source
    val eq = Corpus.mixByTemperature(df, "grp", col("o_orderkey"), alpha = 0.0)
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSmall = n * 0.1
    assert(eq.values.forall(c => math.abs(c - nSmall) / nSmall < 0.15),
      s"alpha=0 should equalize near $nSmall: $eq")
    // smallest source always survives whole (rate 1), any alpha
    val half = Corpus.mixByTemperature(df, "grp", col("o_orderkey"), alpha = 0.5)
    assert(half.where(col("grp") === "small").count() ==
      df.where(col("grp") === "small").count())
    // monotone: bigger sources keep a smaller FRACTION of themselves
    val fracs = half.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = df.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keep = base.map { case (g, b) => g -> fracs(g).toDouble / b }
    assert(keep("big") < keep("mid") && keep("mid") < keep("small") + 1e-9,
      s"keep rates should decrease with source size: $keep")
    // deterministic + repartition-invariant
    val again = Corpus.mixByTemperature(df.repartition(11), "grp",
      col("o_orderkey"), alpha = 0.5)
    assert(half.select("o_orderkey").exceptAll(again.select("o_orderkey")).isEmpty &&
      again.select("o_orderkey").exceptAll(half.select("o_orderkey")).isEmpty)
  }

  test("shuffleDeterministic: same rows, globally hash-sorted across partitions") {
    val df = docs.select(col("o_orderkey"))
    val out = Corpus.shuffleDeterministic(df, "o_orderkey", partitions = 5)
    val ids = out.collect().map(_.getLong(0))
    assert(ids.toSet == df.collect().map(_.getLong(0)).toSet)
    // collect() preserves partition order; the hash keys must come out
    // globally ascending (range partition + within-partition sort)
    val hashes = ids.map(id => (saltedMd5Str(id), id)).toSeq
    assert(hashes == hashes.sorted)
    assert(out.rdd.getNumPartitions == 5)
  }

  test("pageRank: sinks gain mass, dangling redistributes, rank conserves; multigraph weighting") {
    // a -> c, b -> c: c is dangling; one iteration has a closed form
    val e = Seq(("a", "c"), ("b", "c")).toDF("s", "d")
    val r1 = Corpus.pageRank(e, col("s"), col("d"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val third = r12(1.0 / 3)
    assert(math.abs(r1("c") - r12(0.15 / 3 + 0.85 * (2 * third + third / 3))) < 1e-11, r1.toString)
    assert(r1("a") == r1("b") && r1("c") > r1("a"), r1.toString)
    // rank mass conserves across iterations (dangling redistribution)
    val r3 = Corpus.pageRank(e, col("s"), col("d"), iters = 3)
      .collect().map(_.getDouble(1))
    assert(math.abs(r3.sum - 1.0) < 1e-9, r3.sum.toString)
    // multigraph: a duplicated edge doubles its share of the source's mass
    val m = Seq(("a", "b"), ("a", "b"), ("a", "c")).toDF("s", "d")
    val rm = Corpus.pageRank(m, col("s"), col("d"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rm("b") > rm("c"), rm.toString)
    // deterministic across partitioning
    val re = Corpus.pageRank(e.repartition(5), col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val orig = Corpus.pageRank(e, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(re == orig)
  }

  test("weighted graph contract: weight-w edge == w parallel edges " +
      "(pageRank / labelPropagationWeighted / modularityWeighted)") {
    // asymmetric weights so the weighted result actually differs from
    // the unweighted one; includes a duplicate weighted row (weights
    // must SUM under canonicalization) and both edge orientations
    val wEdges = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L),
      ("d", "a", 5L), ("a", "d", 2L), ("b", "d", 1L), ("b", "d", 1L))
    val we = wEdges.toDF("s", "d", "w")
    val replicated = wEdges.flatMap { case (s, d, w) =>
      Seq.fill(w.toInt)((s, d, 1L)) }.toDF("s", "d", "w")

    // pageRank: weighted == the replicated MULTIGRAPH under the plain
    // (historically unweighted) form — directed, duplicates count
    val prW = Corpus.pageRank(we, col("s"), col("d"), iters = 3,
        weight = col("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val prM = Corpus.pageRank(replicated, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(prW == prM, s"weighted=$prW multigraph=$prM")
    // and it differs from ignoring the weights (the contract bites)
    val prU = Corpus.pageRank(we, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(prW != prU)

    // labelPropagationWeighted: weighted == replicated weight-1 form,
    // and == the unweighted op when every weight is 1 (simple graph)
    val lpW = Corpus.labelPropagationWeighted(we, col("s"), col("d"),
        col("w"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val lpR = Corpus.labelPropagationWeighted(replicated, col("s"),
        col("d"), col("w"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lpW == lpR, s"weighted=$lpW replicated=$lpR")
    val simple = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("s", "d")
    val lp1 = Corpus.labelPropagationWeighted(simple, col("s"), col("d"),
        lit(1L), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val lp0 = Corpus.labelPropagation(simple, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lp1 == lp0)

    // modularityWeighted: weighted == replicated weight-1 form under a
    // fixed partition; == unweighted modularity values at weight 1
    val labels = Seq(("a", "x"), ("b", "x"), ("c", "y"), ("d", "y"))
      .toDF("node", "label")
    def modRow(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    val mW = modRow(Corpus.modularityWeighted(we, col("s"), col("d"),
      col("w"), labels))
    val mR = modRow(Corpus.modularityWeighted(replicated, col("s"),
      col("d"), col("w"), labels))
    assert(mW == mR, s"weighted=$mW replicated=$mR")
    val m1 = modRow(Corpus.modularityWeighted(simple, col("s"), col("d"),
      lit(1L), labels))
    val m0 = modRow(Corpus.modularity(simple, col("s"), col("d"), labels))
    assert(m1 == m0)

    // contract violations fail LOUDLY: zero / negative / null weights
    val bad = Seq(("a", "b", 0L)).toDF("s", "d", "w")
    intercept[Exception] {
      Corpus.pageRank(bad, col("s"), col("d"), weight = col("w")).collect()
    }
    val nullW = Seq(("a", "b", Option.empty[Long])).toDF("s", "d", "w")
    intercept[Exception] {
      Corpus.labelPropagationWeighted(nullW, col("s"), col("d"),
        col("w")).collect()
    }
    // r14 advice: NaN / Infinity / out-of-long-range doubles must hit
    // the guard's UNIFORM message, not an opaque ANSI cast error
    // (weightGuard uses try_cast so these classes null out first)
    for (w <- Seq(Double.NaN, Double.PositiveInfinity, 1.0e19, 2.7)) {
      val badD = Seq(("a", "b", w)).toDF("s", "d", "w")
      val e = intercept[Exception] {
        Corpus.pageRank(badD, col("s"), col("d"), weight = col("w"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("edge weights must be integers")),
        s"weight $w: ${msgs(e)}")
    }
  }

  test("louvainCommunities: one sweep matches the brute gain argmax; Q >= Q(LPA)") {
    // two weighted triangles bridged by one weak edge — the textbook
    // two-community graph
    val edges = Seq(
      ("a", "b", 3L), ("b", "c", 3L), ("a", "c", 3L),
      ("x", "y", 3L), ("y", "z", 3L), ("x", "z", 3L),
      ("c", "x", 1L)).toDF("s", "d", "w")
    // brute replica of ONE synchronous sweep from singleton communities
    val adj: Map[String, Map[String, Long]] = {
      val sym = Seq(("a","b",3L),("b","c",3L),("a","c",3L),("x","y",3L),
        ("y","z",3L),("x","z",3L),("c","x",1L))
        .flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
      sym.groupBy(_._1).map { case (n, es) =>
        n -> es.map(e => e._2 -> e._3).toMap }
    }
    val k = adj.map { case (n, m) => n -> m.values.sum }
    val w2 = 16L // sum of weights
    def gain(i: String, c: String, comm: Map[String, String]): Long = {
      val kin = adj(i).filter { case (j, _) => comm(j) == c }.values.sum
      val tot = comm.collect { case (n, cc) if cc == c => k(n) }.sum
      2L * w2 * kin - k(i) * (tot - (if (comm(i) == c) k(i) else 0L))
    }
    val comm0 = adj.keys.map(n => n -> n).toMap
    def commSize(c: String, comm: Map[String, String]) =
      comm.values.count(_ == c)
    val expected1 = adj.keys.map { i =>
      val own = comm0(i)
      // strengthened minimum-label rule: nobody joins a larger-labeled
      // SINGLETON community
      val cands = (adj(i).keySet.map(comm0) + own).toSeq.filter(c =>
        !(commSize(c, comm0) == 1 && c > own))
      val gs = cands.map(c => c -> gain(i, c, comm0)).toMap
      val gmax = gs.values.max
      i -> (if (gs(own) == gmax) own
            else gs.filter(_._2 == gmax).keys.min)
    }.toMap
    val got1 = Corpus.louvainCommunities(edges, col("s"), col("d"),
        col("w"), sweeps = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got1 == expected1, s"got=$got1 expected=$expected1")
    // after 3 sweeps the two triangles resolve to two communities
    val got3 = Corpus.louvainCommunities(edges, col("s"), col("d"),
        col("w"), sweeps = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set(got3("a"), got3("b"), got3("c")).size == 1)
    assert(Set(got3("x"), got3("y"), got3("z")).size == 1)
    assert(got3("a") != got3("x"))
    // modularity gate: Q(louvain) >= Q(LPA) on the same weighted graph
    def q(labels: org.apache.spark.sql.DataFrame) =
      Corpus.modularityWeighted(edges, col("s"), col("d"), col("w"), labels)
        .head().getDouble(3)
    val qLouvain = q(Corpus.louvainCommunities(edges, col("s"), col("d"),
      col("w"), sweeps = 3))
    val qLpa = q(Corpus.labelPropagationWeighted(edges, col("s"), col("d"),
      col("w"), iters = 3))
    assert(qLouvain >= qLpa, s"qLouvain=$qLouvain qLpa=$qLpa")
    // weight-1 default = the unweighted multigraph contract
    val simple = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "d")
    val one = Corpus.louvainCommunities(simple, col("s"), col("d"))
      .collect().map(_.getString(1)).toSet
    assert(one.size == 1) // one triangle folds to one community
  }

  test("louvainMultiLevel: coarsening merges whole communities one-level moves cannot; Q chain; round-trip") {
    // ring of 10 triangles bridged by single edges — the resolution-
    // limit graph: with c cliques, merging ADJACENT cliques beats
    // one-clique-per-community iff c > 8 (Q1 = 3/4 − 1/c vs
    // Q2 = 7/8 − 2/c for pair-merges), and no SINGLE node move from
    // the clique partition improves Q — so level 1 stops at one
    // community per triangle and only the coarsened level can merge.
    // labeling matters for the DETERMINISTIC level-1 trace: bridges
    // connect each clique's MAX node (i9—(i+1)9), so in sweep 1 every
    // non-min node's within-clique move (gain 76/72) beats the only
    // allowed cross-clique candidate (gain 64) and each min node i0
    // has only larger-labeled singleton candidates (all blocked) —
    // level 1 lands exactly on the 10 triangles and is stable
    val c = 10
    val edges = (0 until c).flatMap { i =>
      val (a, b, x) = (f"n${i}%02d0", f"n${i}%02d1", f"n${i}%02d9")
      val nxt = f"n${(i + 1) % c}%02d9"
      Seq((a, b), (b, x), (a, x), (x, nxt))
    }.toDF("s", "d")
    def q(labels: org.apache.spark.sql.DataFrame) =
      Corpus.modularityWeighted(edges, col("s"), col("d"), lit(1L), labels)
        .head().getDouble(3)
    val oneLv = Corpus.louvainCommunities(edges, col("s"), col("d"),
      sweeps = 3)
    val one = oneLv.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // level 1 resolves exactly the 10 triangles
    assert(one.values.toSet.size == c)
    val multiDf = Corpus.louvainMultiLevel(edges, col("s"), col("d"),
      sweeps = 5, levels = 2)
    val multi = multiDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // round-trip/containment: multi is a COARSENING of level 1 — every
    // level-1 community maps entirely into one multi community
    val lift = one.keys.groupBy(one).map { case (c1, nodes) =>
      c1 -> nodes.map(multi).toSet }
    assert(lift.values.forall(_.size == 1), s"split community: $lift")
    // the coarse level actually merged cliques
    assert(multi.values.toSet.size < c)
    // Q chain: Q(multi) > Q(one-level) >= Q(LPA), computed on the
    // ORIGINAL graph (strict: pair-merges beat the clique partition
    // at c = 10 by construction)
    val qMulti = q(multiDf); val qOne = q(oneLv)
    val qLpa = q(Corpus.labelPropagationWeighted(edges, col("s"), col("d"),
      lit(1L), iters = 3))
    assert(qMulti > qOne, s"qMulti=$qMulti qOne=$qOne multi=$multi")
    assert(qOne >= qLpa, s"qOne=$qOne qLpa=$qLpa")
    // levels = 1 is bit-identical to the one-level operator
    val lv1 = Corpus.louvainMultiLevel(edges, col("s"), col("d"),
        sweeps = 3, levels = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lv1 == one)
    // community ids remain node ids (labels map back through levels)
    assert(multi.values.toSet.subsetOf(one.keys.toSet))
    // monotone guard: on the 2-triangle graph merging the triangles
    // would REDUCE Q (2W·1 − 19·19 < 0 — no coarse move even offers a
    // gain), so levels=2 must return exactly the one-level labels
    val two = Seq(
      ("a", "b", 3L), ("b", "c", 3L), ("a", "c", 3L),
      ("x", "y", 3L), ("y", "z", 3L), ("x", "z", 3L),
      ("c", "x", 1L)).toDF("s", "d", "w")
    val twoOne = Corpus.louvainCommunities(two, col("s"), col("d"),
      col("w"), sweeps = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val twoMulti = Corpus.louvainMultiLevel(two, col("s"), col("d"),
      col("w"), sweeps = 3, levels = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(twoMulti == twoOne)
  }

  test("tClosenessReport: hand-computed ordered EMDs, NULL QI group, NULL sensitive excluded") {
    // groups A(0,0,0,0 + one NULL sensitive), B(0,1,2,2), C(0,0,1,2),
    // NULL-QI(1,1); N=14, G=(7,4,3), m=3
    // EMD_A = (|28|+|12|)/112 = 40/112 = 5/14      (above t=0.3)
    // EMD_B = (14+16)/112 = 30/112                  (below)
    // EMD_C = (0+2)/112 = 2/112                     (below)
    // EMD_null = (14+6)/56 = 20/56 = 5/14           (above)
    val rows = Seq(
      Some("A") -> Some(0L), Some("A") -> Some(0L), Some("A") -> Some(0L),
      Some("A") -> Some(0L), Some("A") -> None,
      Some("B") -> Some(0L), Some("B") -> Some(1L), Some("B") -> Some(2L),
      Some("B") -> Some(2L),
      Some("C") -> Some(0L), Some("C") -> Some(0L), Some("C") -> Some(1L),
      Some("C") -> Some(2L),
      None -> Some(1L), None -> Some(1L))
    val df = rows.map { case (q, s) => (q.orNull, s.map(Long.box).orNull) }
      .toDF("q", "s")
    val r = Corpus.tClosenessReport(df, Seq(col("q")), col("s"), t = 0.3)
      .head()
    assert(r.getLong(1) == 14L)   // n_rows (non-null sensitive)
    assert(r.getLong(2) == 1L)    // n_null_sensitive
    assert(r.getLong(3) == 4L)    // n_groups (NULL QI is a real group)
    assert(r.getLong(4) == 3L)    // n_values
    assert(math.abs(r.getDouble(5) - 5.0 / 14.0) < 1e-12) // max_emd
    assert(r.getLong(6) == 2L)    // groups_above_t (A and the NULL group)
    assert(r.getLong(7) == 6L)    // rows_above_t
    assert(math.abs(r.getDouble(8) - 6.0 / 14.0) < 1e-12)
    // identical distributions in every group => every EMD is 0
    val flat = Seq(("A", 0L), ("A", 1L), ("B", 0L), ("B", 1L))
      .toDF("q", "s")
    val r0 = Corpus.tClosenessReport(flat, Seq(col("q")), col("s"), t = 0.3)
      .head()
    assert(r0.getDouble(5) == 0.0 && r0.getLong(6) == 0L)
    // single global value (m = 1) => EMD defined 0, no division by m-1
    val one = Seq(("A", 5L), ("B", 5L)).toDF("q", "s")
    val r1 = Corpus.tClosenessReport(one, Seq(col("q")), col("s"), t = 0.3)
      .head()
    assert(r1.getLong(4) == 1L && r1.getDouble(5) == 0.0)
  }

  test("holtWintersByKey: bit-equal to a driver fold replica; n < period dropped") {
    val m = 7
    val rnd = new scala.util.Random(7)
    val rows = for (k <- Seq("a", "b"); t <- 0 until 20)
      yield (k, t.toLong, rnd.nextInt(100).toLong)
    val short = Seq(("c", 0L, 5L), ("c", 1L, 6L)) // n=2 < m -> dropped
    val df = (rows ++ short).toDF("k", "t", "x")
    def replica(xs: Seq[Double]): (Double, Double, Double) = {
      var l = xs.take(m).foldLeft(0.0)(_ + _) / m.toDouble
      var b = 0.0
      var s = xs.take(m).map(_ - l).toVector
      for (x <- xs.drop(m)) {
        val sOld = s.head
        val nl = ((x - sOld) + (l + b)) / 2.0
        val nb = ((nl - l) + b) / 2.0
        val ns = ((x - nl) + sOld) / 2.0
        l = nl; b = nb; s = s.tail :+ ns
      }
      (l, b, s.head)
    }
    val got = Corpus.holtWintersByKey(df, Seq(col("k")), col("x"),
        Seq(col("t")), period = m)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got.keySet == Set("a", "b")) // "c" dropped (n < period)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (k <- Seq("a", "b")) {
      val xs = rows.filter(_._1 == k).sortBy(_._2).map(_._3.toDouble)
      val (l, b, sn) = replica(xs)
      val (n, gl, gb, gsn, gf) = got(k)
      assert(n == 20L)
      assert(bits(gl) == bits(l), s"$k level $gl vs $l")
      assert(bits(gb) == bits(b), s"$k trend $gb vs $b")
      assert(bits(gsn) == bits(sn), s"$k seasonal $gsn vs $sn")
      assert(bits(gf) == bits(l + b + sn))
    }
    // n == period exactly: fold is empty, init is the answer
    val justM = (0 until m).map(t => ("d", t.toLong, (t * 3 + 1).toLong))
      .toDF("k", "t", "x")
    val gd = Corpus.holtWintersByKey(justM, Seq(col("k")), col("x"),
      Seq(col("t")), period = m).head()
    val xs = (0 until m).map(t => (t * 3 + 1).toDouble)
    val l0 = xs.foldLeft(0.0)(_ + _) / m.toDouble
    assert(bits(gd.getDouble(2)) == bits(l0))
    assert(gd.getDouble(3) == 0.0)
    assert(bits(gd.getDouble(4)) == bits(xs.head - l0))
  }

  test("ksDriftReport: hand-computed per-group D; NULL group real, NULL value excluded") {
    // A(0,0,1,+null), B(1,1,2), C(0,1,2), NULL-group(0,0); N=11,
    // G=(5,4,2): D_A=7/33, D_B=15/33, D_C=5/33, D_null=12/22
    val rows = Seq(
      Some("A") -> Some(0L), Some("A") -> Some(0L), Some("A") -> Some(1L),
      Some("A") -> None,
      Some("B") -> Some(1L), Some("B") -> Some(1L), Some("B") -> Some(2L),
      Some("C") -> Some(0L), Some("C") -> Some(1L), Some("C") -> Some(2L),
      None -> Some(0L), None -> Some(0L))
    val df = rows.map { case (q, s) => (q.orNull, s.map(Long.box).orNull) }
      .toDF("q", "s")
    val got = Corpus.ksDriftReport(df, Seq(col("q")), col("s"))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet ==
      Set(Some("A"), Some("B"), Some("C"), None: Option[String]))
    assert(got(Some("A"))._1 == 3L
      && math.abs(got(Some("A"))._2 - 7.0 / 33.0) < 1e-12)
    assert(math.abs(got(Some("B"))._2 - 15.0 / 33.0) < 1e-12)
    assert(math.abs(got(Some("C"))._2 - 5.0 / 33.0) < 1e-12)
    assert(got(None)._1 == 2L
      && math.abs(got(None)._2 - 12.0 / 22.0) < 1e-12)
    // single global value: every D = 0, every group still reports
    val one = Seq(("A", 5L), ("B", 5L)).toDF("q", "s")
    val g1 = Corpus.ksDriftReport(one, Seq(col("q")), col("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(g1 == Map("A" -> 0.0, "B" -> 0.0))
  }

  test("associationRules: hand-computed supports/confidence/lift; in-basket dups collapse") {
    // baskets: g1={a,b,c} (a listed twice), g2={a,b}, g3={a,b,d},
    // g4={c,d}, g5={c,d}; N=5; supports a=b=c=d=3; pair support >= 2
    // keeps {a,b} (3) and {c,d} (2)
    val rows = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "c"),
      ("g2", "a"), ("g2", "b"),
      ("g3", "a"), ("g3", "b"), ("g3", "d"),
      ("g4", "c"), ("g4", "d"),
      ("g5", "c"), ("g5", "d"))
    val df = rows.toDF("g", "i")
    val got = Corpus.associationRules(df, col("g"), col("i"),
        minPairSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")))
    assert(got(("a", "b")) == ((3L, 3L, 3L, 5L, 1.0, 5.0 / 3.0)))
    assert(got(("b", "a")) == ((3L, 3L, 3L, 5L, 1.0, 5.0 / 3.0)))
    assert(got(("c", "d")) == ((2L, 3L, 3L, 5L, 2.0 / 3.0, 10.0 / 9.0)))
    assert(got(("d", "c")) == ((2L, 3L, 3L, 5L, 2.0 / 3.0, 10.0 / 9.0)))
  }

  test("crossCorrelation: bit-equal to a driver replica; zero-variance guard; gaps drop pairs") {
    val rnd = new scala.util.Random(13)
    // key "a": contiguous days; key "b": a gap at t=7 (pairs drop)
    val rows = (for (k <- Seq("a", "b"); t <- 0 until 15
                     if !(k == "b" && t == 7))
      yield (k, t.toLong, rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val df = rows.toDF("k", "t", "x", "y")
    val got = Corpus.crossCorrelation(df, col("t"), col("x"), col("y"),
        maxLag = 3, keys = Seq(col("k")))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (k <- Seq("a", "b")) {
      val series = rows.filter(_._1 == k)
      val n = BigInt(series.size)
      val sx = series.map(r => BigInt(r._3)).sum
      val sy = series.map(r => BigInt(r._4)).sum
      val dx = series.map(r => r._2 -> (BigInt(r._3) * n - sx)).toMap
      val dy = series.map(r => r._2 -> (BigInt(r._4) * n - sy)).toMap
      val dxx = dx.values.map(v => v * v).sum
      val dyy = dy.values.map(v => v * v).sum
      for (lag <- 0L to 3L) {
        val ts = dx.keySet.filter(t0 => dy.contains(t0 + lag))
        val num = ts.toSeq.map(t0 => dx(t0) * dy(t0 + lag)).sum
        val want = num.toDouble /
          math.sqrt(dxx.toDouble * dyy.toDouble)
        val (np, ccf) = got((k, lag))
        assert(np == ts.size, s"$k lag $lag n_pairs")
        assert(bits(ccf) == bits(want), s"$k lag $lag: $ccf vs $want")
      }
    }
    // key "b" lag 1: the gap at t=7 kills pairs (6,7) and (7,8)
    assert(got(("b", 1L))._1 == 12L)
    // zero-variance y => ccf 0.0 at every lag
    val const = (0 until 10).map(t => ("c", t.toLong, t.toLong, 5L))
      .toDF("k", "t", "x", "y")
    val gz = Corpus.crossCorrelation(const, col("t"), col("x"), col("y"),
        maxLag = 2, keys = Seq(col("k")))
      .collect().map(_.getDouble(3))
    assert(gz.nonEmpty && gz.forall(_ == 0.0))
  }

  test("dispersionIndex: hand Fano factors; constant/underdispersed/bursty; guards") {
    // key a: constant 5,5,5 -> var 0, dispersion 0; key b: 1,9 ->
    // mean 5, var 32, F = 6.4; key c: single point -> 0 by convention
    val df = Seq(("a", 5L), ("a", 5L), ("a", 5L), ("b", 1L), ("b", 9L),
      ("c", 7L)).toDF("k", "x")
    val got = Corpus.dispersionIndex(df, col("x"), keys = Seq(col("k")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got("a") == ((3L, 5.0, 0.0)))
    assert(got("b")._1 == 2L && got("b")._2 == 5.0
      && math.abs(got("b")._3 - 6.4) < 1e-12)
    assert(got("c") == ((1L, 7.0, 0.0)))
    // all-zero series: S = 0 guard (ratio undefined -> 0.0, no throw)
    val z = Corpus.dispersionIndex(Seq(("z", 0L), ("z", 0L)).toDF("k", "x"),
      col("x"), keys = Seq(col("k"))).head()
    assert(z.getDouble(3) == 0.0)
  }

  test("stickinessRatio: hand DAU/WAU series incl. gap day and partial windows") {
    // users: u1 active day 0,1; u2 active day 0; u3 active day 3
    // (gap at day 2). window=3 trailing.
    val df = Seq((0L, "u1"), (0L, "u2"), (1L, "u1"), (3L, "u3"),
      (0L, "u1")) // dup row collapses
      .toDF("d", "u")
    val got = Corpus.stickinessRatio(df, col("d"), col("u"), window = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // day 0: dau 2, rolling {u1,u2} = 2; day 1: dau 1, rolling 2;
    // day 2: dau 0, rolling(0..2) {u1,u2} = 2; day 3: dau 1,
    // rolling(1..3) {u1,u3} = 2
    assert(got(0L) == ((2L, 2L, 1.0)))
    assert(got(1L) == ((1L, 2L, 0.5)))
    assert(got(2L) == ((0L, 2L, 0.0)))
    assert(got(3L) == ((1L, 2L, 0.5)))
  }

  test("rakeKeywords: hand-computed word degrees and phrase scores") {
    // "deep learning of the deep models. deep learning, it wins!"
    // phrases: "deep learning" x2, "deep models", "wins" ("it" is the
    // delimiter before wins — a stopword only SPLITS; adjacent
    // non-stopwords stay one phrase)
    // freq: deep 3, learning 2, models 1, wins 1
    // deg:  deep 6, learning 4, models 2, wins 1
    // wsc:  deep 2.0, learning 2.0, models 2.0, wins 1.0
    val df = Seq(
      "Deep learning of the deep models. Deep learning, it wins!")
      .toDF("text")
    val got = Corpus.rakeKeywords(df, col("text"), minCount = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(
      "deep learning" -> ((2L, 4.0)),
      "deep models" -> ((1L, 4.0)),
      "wins" -> ((1L, 1.0))), got.toString)
    // minCount filters singletons
    val g3 = Corpus.rakeKeywords(df, col("text"), minCount = 2L)
      .collect().map(_.getString(0)).toSet
    assert(g3 == Set("deep learning"))
    // stopword-only / punctuation-only text yields no phrases
    assert(Corpus.rakeKeywords(Seq("the and of... to!").toDF("text"),
      col("text"), minCount = 1L).count() == 0L)
  }

  test("fleissKappaReport: hand-computed variable-n kappa; singletons excluded; degenerates") {
    // i1: A,A,B (P=1/3); i2: A,A (P=1); i3: B,B,B,B (P=1);
    // i4: single C -> EXCLUDED from items AND marginals.
    // kept marginals A=4, B=5, R=9 -> Pe = 41/81.
    val df = Seq(
      ("i1", "A"), ("i1", "A"), ("i1", "B"),
      ("i2", "A"), ("i2", "A"),
      ("i3", "B"), ("i3", "B"), ("i3", "B"), ("i3", "B"),
      ("i4", "C")).toDF("it", "lb")
    val r = Corpus.fleissKappaReport(df, col("it"), col("lb")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 9L && r.getLong(2) == 2L)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val ps = math.rint((5.0 - 3.0) / 6.0 * 1e12).toLong + 2000000000000L
    val pbar = ps.toDouble / 1e12 / 3.0
    val pe = 41.0 / 81.0
    assert(bits(r.getDouble(3)) == bits(pbar))
    assert(bits(r.getDouble(4)) == bits(pe))
    assert(bits(r.getDouble(5)) == bits((pbar - pe) / (1.0 - pe)))
    // perfect agreement on ONE label: Pe = 1 -> kappa 0.0 by convention
    val one = Seq(("a", "X"), ("a", "X"), ("b", "X"), ("b", "X"))
      .toDF("it", "lb")
    val r1 = Corpus.fleissKappaReport(one, col("it"), col("lb")).head()
    assert(r1.getDouble(3) == 1.0 && r1.getDouble(4) == 1.0
      && r1.getDouble(5) == 0.0)
    // all singletons -> empty report row
    val sing = Seq(("a", "X"), ("b", "Y")).toDF("it", "lb")
    val r0 = Corpus.fleissKappaReport(sing, col("it"), col("lb")).head()
    assert(r0.getLong(0) == 0L && r0.getDouble(5) == 0.0)
  }

  test("simpsonDiversityBy: hand indices; NULL labels drop; n<2 guard") {
    val df = Seq(
      ("A", "en"), ("A", "en"), ("A", "en"), ("A", "fr"),
      ("B", "en"), ("B", "en"),
      ("C", "de"), ("C", null)).toDF("src", "lg")
    val got = Corpus.simpsonDiversityBy(df, col("src"), col("lg"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("A") == ((4L, 2L, 1.0 - 6.0 / 12.0)))
    assert(got("B") == ((2L, 1L, 0.0))) // monoculture: 1 - 2/2
    assert(got("C") == ((1L, 1L, 0.0))) // null dropped, n<2 guard
  }

  test("churnReport: hand flows incl. an all-quiet day that still reports its churn") {
    // day0 {u1,u2}; day1 {u1,u3}; day2 quiet; day3 {u4}
    val df = Seq((0L, "u1"), (0L, "u2"), (1L, "u1"), (1L, "u3"),
      (3L, "u4"), (0L, "u1")).toDF("d", "u") // dup collapses
    val got = Corpus.churnReport(df, col("d"), col("u"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0L) == ((2L, 2L, 0L, 0L)))
    assert(got(1L) == ((2L, 1L, 1L, 1L))) // u3 new, u1 retained, u2 churned
    assert(got(2L) == ((0L, 0L, 0L, 2L))) // quiet day: both churn
    assert(got(3L) == ((1L, 1L, 0L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L, 1L))) // u4 churns off the end
    assert(got.size == 5)
  }

  test("ttrReport: hand token/type/hapax counts") {
    val df = Seq(("A", "a b  a c"), ("B", "x x x")).toDF("src", "txt")
    val got = Corpus.ttrReport(df, col("src"), col("txt"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got("A") == ((4L, 3L, 2L, 3.0 / 4.0, 2.0 / 3.0)))
    assert(got("B") == ((3L, 1L, 0L, 1.0 / 3.0, 0.0)))
  }

  test("markovEntropyByState: ln2 branch, +0.0 deterministic state") {
    // u1: a,b,a,c -> a→b, b→a, a→c: H(a) = ln 2, H(b) = exactly +0.0
    val df = Seq(("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"),
      ("u1", 4L, "c")).toDF("u", "t", "s")
    val got = Corpus.markovEntropyByState(df, col("u"), Seq(col("t")),
        col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got("a")._1 == 2L)
    assert(math.abs(got("a")._2 - math.log(2.0)) < 1e-6)
    assert(got("b") == ((1L, 0.0)))
    // sign bit: +0.0, never -0.0 (0.0 - Σ guards it)
    assert(java.lang.Double.doubleToRawLongBits(got("b")._2) == 0L)
  }

  test("expectationsReport + refIntegrityViolations count every rule's violations") {
    val df = Seq(
      (1L, 1, "a", 5.0),
      (1L, 1, "b", 50.0),                         // dup key, out of range
      (2L, 1, null.asInstanceOf[String], -1.0),   // null text, out of range
      (3L, 2, "c", 10.0)).toDF("k1", "k2", "txt", "x")
    val got = Corpus.expectationsReport(df,
        notNull = Seq("txt"),
        uniqueKeys = Seq(Seq("k1", "k2")),
        ranges = Seq(("x", 0.0, 20.0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "not_null:txt" -> 1L,
      "unique:k1+k2" -> 1L,
      "range:x" -> 2L), got.toString)
    // referential: children 1,2,3 vs parents 1,3 -> k1=2 dangles; a
    // null child key also counts (it can never match)
    val parent = Seq(Tuple1(1L), Tuple1(3L)).toDF("pk")
    val child = df.select(col("k1")).union(
      Seq(Tuple1(null.asInstanceOf[java.lang.Long])).toDF("k1"))
    val ref = Corpus.refIntegrityViolations(child, Seq("k1"), parent, Seq("pk"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ref.toSeq == Seq(("ref:k1", 2L)), ref.toSeq.toString)
    // empty input: zero violations, never null
    val empty = Corpus.expectationsReport(df.where(lit(false)),
        notNull = Seq("txt"), ranges = Seq(("x", 0.0, 1.0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(empty.values.forall(_ == 0L), empty.toString)
  }

  test("hits: one-iteration closed form, L1 conservation, multigraph, partition invariance") {
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a -> c, b -> c, c -> d: after 1 iter (h0 = 1 each):
    //   a_raw: c = 2, d = 1; sum 3 -> a(c) = 2/3, a(d) = 1/3
    //   h_raw: a = a(c) = 2/3, b = 2/3, c = a(d) = 1/3; sum 5/3
    //   -> h(a) = h(b) = 0.4, h(c) = 0.2
    val e = Seq(("a", "c"), ("b", "c"), ("c", "d")).toDF("s", "d")
    val got = Corpus.hits(e, col("s"), col("d"), iters = 1)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val (twoThirds, oneThird) = (r12(2.0 / 3), r12(1.0 / 3))
    assert(got("c")._2 == twoThirds && got("d")._2 == oneThird, got.toString)
    assert(got("a")._2 == 0.0 && got("b")._2 == 0.0, got.toString)
    val hSum = 2 * twoThirds + oneThird
    assert(got("a")._1 == r12(twoThirds / hSum), got.toString)
    assert(got("b")._1 == got("a")._1 && got("d")._1 == 0.0, got.toString)
    assert(got("c")._1 == r12(oneThird / hSum), got.toString)
    // both score vectors stay L1-normalized after more iterations
    val two = Corpus.hits(e, col("s"), col("d"), iters = 2).collect()
    assert(math.abs(two.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(math.abs(two.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    // multigraph: a duplicated edge doubles its authority contribution
    val m = Seq(("a", "b"), ("a", "b"), ("a", "c")).toDF("s", "d")
    val gm = Corpus.hits(m, col("s"), col("d"), iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gm("b") == r12(2.0 / 3) && gm("c") == r12(1.0 / 3), gm.toString)
    // deterministic across partitioning (the oracle-exactness property)
    val re = Corpus.hits(e.repartition(5), col("s"), col("d"), iters = 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val orig = Corpus.hits(e, col("s"), col("d"), iters = 2)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(re == orig)
  }

  test("triangleCounts: known graphs, brute-force equality, direction/dup/self-loop hygiene") {
    def run(edges: Seq[(String, String)], parts: Int = 3): Map[String, Long] =
      Corpus.triangleCounts(edges.toDF("s", "d").repartition(parts),
          col("s"), col("d"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4: 4 triangles, every node in exactly 3
    val k4 = for { a <- Seq("w", "x", "y", "z"); b <- Seq("w", "x", "y", "z")
                   if a < b } yield (a, b)
    assert(run(k4) == Map("w" -> 3L, "x" -> 3L, "y" -> 3L, "z" -> 3L))
    // path: no triangles -> empty output
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "d"))).isEmpty)
    // two triangles sharing edge (a,b)
    val share = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d"))
    assert(run(share) == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    // duplicates, reversed directions, and self-loops change nothing
    val noisy = share ++ share.map(_.swap) ++ Seq(("a", "a"), ("c", "c"))
    assert(run(noisy) == run(share))
    // randomized equality vs brute force, with ids whose STRING order
    // disagrees with numeric order (orientation invariance)
    val rnd = new scala.util.Random(13)
    val nodes = (1 to 25).map(_.toString) // "10" < "2" as strings
    val redges = (for { a <- nodes; b <- nodes
      if a < b && rnd.nextDouble() < 0.3 } yield (a, b))
    val adj = redges.toSet ++ redges.map(_.swap).toSet
    val want = (for {
      a <- nodes
      b <- nodes if adj((a, b))
      c <- nodes if b < c && adj((a, c)) && adj((b, c))
    } yield a).groupBy(identity).map { case (n, g) => n -> g.size.toLong }
    assert(run(redges, parts = 7) == want)
    // the retained wedge form stays output-identical to the intersect
    // default (the r11 probe invariant — tools/TriangleProbe)
    val wedge = Corpus.triangleCountsWedge(
        redges.toDF("s", "d").repartition(7), col("s"), col("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wedge == want)
    assert(Corpus.triangleCountsWedge(noisy.toDF("s", "d"), col("s"), col("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == run(share))
  }

  test("clusteringCoefficients: hand graph, exact division, pendant/triangle-free rows") {
    // triangle {1,2,3} + pendant 4 on node 3 + isolated pair (5,6)
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"), ("5", "6"))
    for (parts <- Seq(1, 5)) {
      val got = Corpus.clusteringCoefficients(
          edges.toDF("s", "d").repartition(parts), col("s"), col("d"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got == Map(
        "1" -> ((2L, 1L, 1.0)),
        "2" -> ((2L, 1L, 1.0)),
        "3" -> ((3L, 1L, 2.0 / 6.0)), // exact IEEE: 2/(3*2)
        "4" -> ((1L, 0L, 0.0)), // pendant: degree 1, no wedge
        "5" -> ((1L, 0L, 0.0)),
        "6" -> ((1L, 0L, 0.0))), s"parts=$parts")
    }
    // dup/reversed/self-loop hygiene rides the canonical edge pass
    val noisy = edges ++ edges.map(_.swap) ++ Seq(("1", "1"))
    assert(Corpus.clusteringCoefficients(noisy.toDF("s", "d"), col("s"), col("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet ==
      Corpus.clusteringCoefficients(edges.toDF("s", "d"), col("s"), col("d"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet)
  }

  test("linkPredictionScores: hand graph exact; driver reference; adjacency + hub cap") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def scaled(x: Double): Long =
      new JBD(java.lang.Double.toString(x))
        .setScale(0, RoundingMode.HALF_UP).longValue
    def run(edges: Seq[(String, String)], maxDeg: Int = 0,
            adj: Boolean = false, parts: Int = 3) =
      Corpus.linkPredictionScores(edges.toDF("s", "d").repartition(parts),
          col("s"), col("d"), maxDegree = maxDeg, includeAdjacent = adj)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6))).toSet
    // square 1-2-3-4-1: the two diagonals each share BOTH degree-2
    // corners; every edge pair shares none — exact closed-form values
    val square = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("1", "4"))
    val aa2 = scaled(1e12 / math.log(2.0)); val ra2 = 500000000000L
    def row(a: String, b: String) = (a, b, 2L, 2 * aa2,
      (2 * aa2).toDouble / 1e12, 2 * ra2, 1.0)
    assert(run(square) == Set(row("1", "3"), row("2", "4")))
    // triangle: all distance-2 pairs are ALSO edges -> default empty,
    // includeAdjacent scores them (cn = 1 through the third corner)
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c"))
    assert(run(tri).isEmpty)
    assert(run(tri, adj = true) == Set(
      ("a", "b", 1L, scaled(1e12 / math.log(2.0)), scaled(1e12 / math.log(2.0)).toDouble / 1e12, ra2, 0.5),
      ("a", "c", 1L, scaled(1e12 / math.log(2.0)), scaled(1e12 / math.log(2.0)).toDouble / 1e12, ra2, 0.5),
      ("b", "c", 1L, scaled(1e12 / math.log(2.0)), scaled(1e12 / math.log(2.0)).toDouble / 1e12, ra2, 0.5)))
    // hub cap: star center degree 5 -> capped out, all pairs vanish
    val star = (1 to 5).map(i => ("hub", s"l$i"))
    assert(run(star).size == 10 && run(star, maxDeg = 4).isEmpty)
    // driver reference on a random graph (dup/reversed edges included:
    // canonical hygiene is part of the contract)
    val rnd = new scala.util.Random(42)
    val nodes = (0 until 18).map(_.toString)
    val raw = Seq.fill(60)((nodes(rnd.nextInt(18)), nodes(rnd.nextInt(18))))
    val canon = raw.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a) }.distinct
    val nbm = (canon.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (z, xs) => z -> xs.map(_._2).distinct.sorted }
    val accum = scala.collection.mutable.Map
      .empty[(String, String), (Long, Long, Long)]
    for ((z, ns) <- nbm; if ns.size >= 2; i <- ns.indices;
         j <- (i + 1) until ns.size) {
      val key = (ns(i), ns(j))
      val (c, s1, s2) = accum.getOrElse(key, (0L, 0L, 0L))
      accum(key) = (c + 1, s1 + scaled(1e12 / math.log(ns.size.toDouble)),
        s2 + scaled(1e12 / ns.size.toDouble))
    }
    val eset = canon.toSet
    val want = accum.collect { case ((a, b), (c, s1, s2))
        if !eset.contains((a, b)) =>
      (a, b, c, s1, s1.toDouble / 1e12, s2, s2.toDouble / 1e12) }.toSet
    for (parts <- Seq(1, 7))
      assert(run(raw, parts = parts) == want, s"parts=$parts")
  }

  test("exactQuantiles: == sorted-selection reference; edges; chunk/partition invariance") {
    def ref(xs: Seq[Double], probs: Seq[Double]): Seq[(Double, Double, Long)] = {
      val s = xs.sorted
      probs.map { p =>
        val k = math.max(1L, math.min(s.size.toLong, math.ceil(p * s.size).toLong))
        (p, s((k - 1).toInt), k)
      }
    }
    val rnd = new scala.util.Random(23)
    // heavy ties + outliers: selection must not care about tie order
    val xs = (1 to 3000).map(_ => (rnd.nextInt(40) - 5) * 1.25) ++
      Seq(1e9, -1e9) ++ Seq.fill(200)(7.5)
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val want = ref(xs, probs)
    for (chunks <- Seq(1, 7, 256); parts <- Seq(1, 13)) {
      val got = Corpus.exactQuantiles(
          xs.map(Tuple1(_)).toDF("x").repartition(parts), col("x"), probs, chunks)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(got == want, s"chunks=$chunks parts=$parts")
    }
    // point mass short-circuit; nulls dropped; tiny n < chunks
    val pm = Seq.fill(50)(3.25).map(Tuple1(_)).toDF("x")
    assert(Corpus.exactQuantiles(pm, col("x"), Seq(0.5, 1.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
      == Seq((0.5, 3.25, 25L), (1.0, 3.25, 50L)))
    val withNull = Seq(Some(1.0), None, Some(2.0), Some(3.0))
      .toDF("x")
    assert(Corpus.exactQuantiles(withNull, col("x"), Seq(0.5), chunks = 256)
      .head().getDouble(1) == 2.0)
    assert(Corpus.exactQuantiles(
      Seq.empty[Double].map(Tuple1(_)).toDF("x"), col("x"), Seq(0.5)).isEmpty)
  }

  test("exactQuantilesBy: per-key sorted-selection reference; singleton keys; nulls") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 600).map(i =>
      (s"k${i % 4}", (rnd.nextInt(25) * 0.5))) ++ Seq(("solo", 42.0))
    val probs = Seq(0.25, 0.5, 1.0)
    val want = rows.groupBy(_._1).flatMap { case (key, g) =>
      val s = g.map(_._2).sorted
      probs.map { p =>
        val k = math.max(1L, math.min(s.size.toLong, math.ceil(p * s.size).toLong))
        (key, p, s((k - 1).toInt), k)
      }
    }.toSet
    for (parts <- Seq(1, 11)) {
      val got = Corpus.exactQuantilesBy(
          rows.toDF("key", "x").repartition(parts), Seq(col("key")), col("x"), probs)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(got == want, s"parts=$parts")
    }
    // nulls dropped per key
    val wn = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("key", "x")
    val g = Corpus.exactQuantilesBy(wn, Seq(col("key")), col("x"), Seq(0.5))
      .head()
    assert(g.getDouble(2) == 1.0 && g.getLong(3) == 1L)
    // a NULL KEY is a real group (null-safe target-rank join), not a
    // silently dropped one
    val nk = Seq((Option("a"), 1.0), (None, 5.0), (None, 7.0))
      .toDF("key", "x")
    val gn = Corpus.exactQuantilesBy(nk, Seq(col("key")), col("x"), Seq(1.0))
      .where(col("key").isNull).head()
    assert(gn.getDouble(2) == 7.0 && gn.getLong(3) == 2L)
  }

  test("interpolatedPercentilesBy: BIT-equal to Spark's builtin percentile aggregate") {
    // r16 (q_percentile rewrite): the window form must replay
    // Percentile.getPercentile's interpolation arithmetic EXACTLY —
    // compare via doubleToRawLongBits over adversarial shapes: odd and
    // even n, heavy ties, singleton and 2-row groups, negative values,
    // integer-boundary positions, and partition invariance.
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val rnd = new scala.util.Random(47)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 9}"
      val v = if (rnd.nextBoolean()) rnd.nextInt(40).toDouble - 20
              else rnd.nextDouble() * 1e5 - 5e4
      (g, v)
    } ++ Seq(("solo", 42.0), ("duo", 1.0), ("duo", 2.0),
      ("tri", -1.0), ("tri", -1.0), ("tri", 8.0))
    val probs = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    for (parts <- Seq(1, 13)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val builtin = df.groupBy(col("k")).agg(
          expr("percentile(v, 0.0)"), expr("percentile(v, 0.1)"),
          expr("percentile(v, 0.5)"), expr("percentile(v, 0.9)"),
          expr("percentile(v, 1.0)"))
        .collect().map(r => r.getString(0) ->
          (1 to 5).map(i => bits(r.getDouble(i)))).toMap
      val win = Corpus.interpolatedPercentilesBy(df, "k", "v", probs)
        .collect().map(r => r.getString(0) ->
          (1 to 5).map(i => bits(r.getDouble(i)))).toMap
      assert(builtin.keySet == win.keySet)
      builtin.foreach { case (k, b) =>
        assert(b == win(k), s"parts=$parts key=$k: $b vs ${win(k)}")
      }
    }
    // null values are skipped like the builtin's
    val wn = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("k", "v")
    val got = Corpus.interpolatedPercentilesBy(wn, "k", "v", Seq(0.5)).head()
    assert(got.getDouble(1) == 2.0)
  }

  test("quantileSketchBy: value-error bound on planted distributions, exact merge invariance") {
    val gamma = 1.02
    val probs = Seq(0.25, 0.5, 0.9, 0.99, 1.0)
    def exact(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val k = math.max(1L, math.min(s.size.toLong, math.ceil(p * s.size).toLong))
      s((k - 1).toInt)
    }
    val rnd = new scala.util.Random(41)
    val planted: Map[String, Seq[Double]] = Map(
      "uniform" -> (1 to 5000).map(_ => (rnd.nextInt(1000) + 1).toDouble),
      "exp" -> (1 to 5000).map(_ => math.exp(rnd.nextDouble() * 8) + 1.0),
      "point" -> Seq.fill(999)(42.0),
      "sorted" -> (1 to 3000).map(_.toDouble),
      "negzero" -> ((1 to 500).map(i => -i.toDouble) ++ Seq.fill(100)(0.0) ++
        (1 to 500).map(_.toDouble)))
    val df = planted.toSeq.flatMap { case (k, xs) => xs.map(x => (k, x)) }
      .toDF("key", "x")
    def run(parts: Int) = Corpus.quantileSketchBy(df.repartition(parts),
        Seq(col("key")), col("x"), probs, gamma)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getInt(2), r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6))))
      .toMap
    val got = run(7)
    for ((name, xs) <- planted; p <- probs) {
      val (sgn, bin, est, rank, n) = got((name, p))
      assert(n == xs.size && rank == math.max(1L,
        math.min(n, math.ceil(p * n).toLong)), s"$name/$p rank surface")
      val truth = exact(xs, p)
      if (truth > 0)
        assert(est >= truth / gamma * 0.999999 && est <= truth * gamma * 1.000001,
          s"$name p=$p: est $est vs true $truth outside gamma band")
      else if (truth == 0.0) assert(sgn == 0 && est == 0.0, s"$name p=$p zero")
      else
        assert(-est >= -truth / gamma * 0.999999 && -est <= -truth * gamma * 1.000001,
          s"$name p=$p: est $est vs true $truth outside gamma band")
      // decoded est is consistent with the integer surface (Spark's
      // Pow is StrictMath.pow — the entropy-gotcha family)
      if (sgn != 0) assert(est == sgn * StrictMath.pow(gamma, bin.toDouble))
    }
    // EXACT merge-order invariance: bin counts are a pure function of
    // the value multiset, so any partitioning (= any merge tree)
    // yields the bit-identical sketch and estimates — the property a
    // KLL/GK compactor cannot give and the reason this form ships
    assert(run(1) == got && run(32) == got)
    // cross-batch mergeability: unioning two halves' bin tables and
    // re-summing equals the whole corpus' bin table
    val (h1, h2) = (df.where(col("x") <= 100), df.where(col("x") > 100))
    val merged = Corpus.quantileSketchBins(h1, Seq(col("key")), col("x"), gamma)
      .union(Corpus.quantileSketchBins(h2, Seq(col("key")), col("x"), gamma))
      .groupBy("key", "__sgn", "__bin").agg(sum("__cnt").as("__cnt"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val whole = Corpus.quantileSketchBins(df, Seq(col("key")), col("x"), gamma)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(merged == whole)
    // ln-binning margin audit for the gate's value domain (integer
    // token counts): nearest-integer distance of ln(x)/ln(gamma)
    // dwarfs cross-libm 1-ulp noise (~1e-11 relative)
    val minMargin = (1 to 10000).map { x =>
      val r = math.log(x.toDouble) / math.log(gamma)
      math.abs(r - math.round(r))
    }.filter(_ > 0).min
    assert(minMargin > 1e-6, s"ln-bin margin $minMargin too thin")
  }

  test("distinctCountEstimate: exact below k, md5-exact estimator, partition invariance") {
    def md560(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // below k: the sketch IS exact
    val small = (1 to 100).map(i => ("g", (i % 30).toString)).toDF("key", "v")
    val es = Corpus.distinctCountEstimate(small, Seq(col("key")), col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(es.toSeq == Seq(("g", 30L, 30.0)))
    // above k: the estimate is a PURE function of the value set —
    // replicate it exactly in the driver, assert bit equality across
    // partitionings (exercises reduce insert paths AND merge)
    val vals = (1 to 5000).map(_.toString)
    val hs = vals.map(md560).distinct.sorted
    val expected = 63.0 * 1152921504606846976.0 / hs(63).toDouble
    for (parts <- Seq(1, 13)) {
      val big = vals.map(v => ("g", v)).toDF("key", "v").repartition(parts)
      val got = Corpus.distinctCountEstimate(big, Seq(col("key")), col("v"), k = 64)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == Seq((64L, expected)), s"parts=$parts")
    }
    assert(math.abs(expected / 5000.0 - 1.0) < 0.3) // ~1/sqrt(64) error regime
    // nulls ignored; key groups independent
    val mixed = Seq(("a", "x"), ("a", null), ("b", "x"), ("b", "y"))
      .toDF("key", "v")
    val m = Corpus.distinctCountEstimate(mixed, Seq(col("key")), col("v"), k = 16)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(m.toSeq == Seq(("a", 1L, 1.0), ("b", 2L, 2.0)))
  }

  test("setOverlapEstimate: exact below k; driver md5 replica; partition invariance") {
    def md560(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def run(a: Seq[String], b: Seq[String], k: Int, parts: Int = 3) =
      Corpus.setOverlapEstimate(
        a.map(Tuple1(_)).toDF("v").repartition(parts), col("v"),
        b.map(Tuple1(_)).toDF("v").repartition(parts), col("v"), k = k)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5), r.getLong(6))).head
    // union below k: every output is the exact cardinality
    val a = (1 to 10).map(i => s"x$i"); val b = (6 to 15).map(i => s"x$i")
    assert(run(a, b, k = 64) ==
      ((10.0, 10.0, 15.0, 15.0 * (5.0 / 15.0), 5.0 / 15.0, 15L, 1L)))
    // duplicates don't count; empty side
    assert(run(a ++ a, b ++ b, k = 64)._3 == 15.0)
    assert(run(a, Nil, k = 64) == ((10.0, 0.0, 10.0, 0.0, 0.0, 10L, 1L)))
    // above k: replicate the whole estimator from driver md5 sets,
    // assert BIT equality across partitionings (reduce + merge paths)
    val va = (1 to 2000).map(i => s"t$i"); val vb = (1001 to 3000).map(i => s"t$i")
    val ha = va.map(md560).distinct.sorted; val hb = vb.map(md560).distinct.sorted
    val k16a = ha.take(16); val k16b = hb.take(16)
    val ku = (k16a ++ k16b).distinct.sorted.take(16)
    val inBoth = ku.count(h => k16a.contains(h) && k16b.contains(h))
    def est(s: Seq[Long]) = if (s.size < 16) s.size.toDouble
      else 15.0 * 1152921504606846976.0 / s(15).toDouble
    val rho = inBoth.toDouble / ku.size.toDouble
    val want = (est(k16a), est(k16b), est(ku), rho * est(ku), rho,
      ku.size.toLong, 0L)
    for (parts <- Seq(1, 13))
      assert(run(va, vb, k = 16, parts = parts) == want, s"parts=$parts")
    // and the k=16 estimates sit in the right regime (error ~1/sqrt(k))
    assert(math.abs(want._3 / 3000.0 - 1.0) < 0.75, want.toString)
  }

  test("modularity: barbell closed form; trivial partition zero; driver ref; unlabeled") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def scaled(x: Double): Long =
      new JBD(java.lang.Double.toString(x))
        .setScale(0, RoundingMode.HALF_UP).longValue
    def ref(edges: Seq[(String, String)],
            labels: Map[String, String]): (Long, Long, Long, Double) = {
      val canon = edges.collect { case (a, b) if a != b =>
        if (a < b) (a, b) else (b, a) }.distinct
      val m = canon.size.toLong
      val deg = canon.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val comms = deg.keys.flatMap(labels.get).toSeq.distinct
      val terms = comms.map { c =>
        val mc = canon.count { case (a, b) =>
          labels.get(a).contains(c) && labels.get(b).contains(c) }
        val dc = deg.collect { case (n, d) if labels.get(n).contains(c) => d }.sum
        val frac = dc.toDouble / (2.0 * m)
        scaled((mc.toDouble / m.toDouble - frac * frac) * 1e12)
      }
      (m, comms.size.toLong, terms.sum, terms.sum.toDouble / 1e12)
    }
    def run(edges: Seq[(String, String)], labels: Map[String, String],
            parts: Int = 3) =
      Corpus.modularity(edges.toDF("s", "d").repartition(parts),
          col("s"), col("d"),
          labels.toSeq.toDF("node", "label"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).head
    // barbell: two triangles + one bridge, labeled by triangle
    val barbell = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d"))
    val lab2 = Map("a" -> "x", "b" -> "x", "c" -> "x",
      "d" -> "y", "e" -> "y", "f" -> "y")
    val gotB = run(barbell, lab2)
    assert(gotB == ref(barbell, lab2) && gotB._4 > 0.3, gotB.toString)
    // one community holding everything: Q = 1 - 1 = 0 exactly
    val lab1 = ('a' to 'f').map(c => c.toString -> "all").toMap
    assert(run(barbell, lab1) == ((7L, 1L, 0L, 0.0)))
    // unlabeled nodes are excluded from m_c/D_c but m counts all edges
    val labPart = lab2 - "f"
    assert(run(barbell, labPart) == ref(barbell, labPart))
    // random graph + random labels, two partitionings
    val rnd = new scala.util.Random(17)
    val nodes = (0 until 16).map(_.toString)
    val raw = Seq.fill(40)((nodes(rnd.nextInt(16)), nodes(rnd.nextInt(16))))
      .filter(p => p._1 != p._2)
    val rlab = nodes.map(n => n -> s"c${rnd.nextInt(4)}").toMap
    for (parts <- Seq(1, 7))
      assert(run(raw, rlab, parts) == ref(raw, rlab), s"parts=$parts")
  }

  test("avgNeighborDegree + degreeAssortativity: closed forms; zero-variance; driver ref") {
    // star K1,3: center's neighbors are all leaves (avg 1.0), leaves
    // see only the center (avg 3.0); perfectly disassortative r = -1
    val star = Seq(("c", "1"), ("c", "2"), ("c", "3"))
    val nd = Corpus.avgNeighborDegree(star.toDF("s", "d"), col("s"), col("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(nd == Set(("c", 3L, 3L, 1.0), ("1", 1L, 3L, 3.0),
      ("2", 1L, 3L, 3.0), ("3", 1L, 3L, 3.0)))
    val ra = Corpus.degreeAssortativity(star.toDF("s", "d"),
      col("s"), col("d")).collect()(0)
    assert(ra.getLong(0) == 6L && ra.getDouble(1) == -1.0)
    // regular graph: zero degree variance -> r defined as 0.0
    val c4 = Seq(("1", "2"), ("2", "3"), ("3", "4"), ("4", "1"))
    assert(Corpus.degreeAssortativity(c4.toDF("s", "d"), col("s"), col("d"))
      .collect()(0).getDouble(1) == 0.0)
    // driver reference (exact BigInt) on a random graph with
    // dup/reversed/self-loop noise; both ops, two partitionings
    val rnd = new scala.util.Random(9)
    val nodes = (0 until 15).map(_.toString)
    val raw = Seq.fill(50)((nodes(rnd.nextInt(15)), nodes(rnd.nextInt(15))))
    val canon = raw.collect { case (a, b) if a != b =>
      if (a < b) (a, b) else (b, a) }.distinct
    val degm = canon.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nbrm = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(p => degm(p._2)).sum).toMap
    val wantNd = degm.map { case (n, d) =>
      (n, d, nbrm(n), nbrm(n).toDouble / d.toDouble) }.toSet
    val m = BigInt(2 * canon.size)
    val sx = BigInt(canon.map { case (a, b) => degm(a) + degm(b) }.sum)
    val sxx = BigInt(canon.map { case (a, b) =>
      degm(a) * degm(a) + degm(b) * degm(b) }.sum)
    val sxy = BigInt(2) * BigInt(canon.map { case (a, b) =>
      degm(a) * degm(b) }.sum)
    val den = m * sxx - sx * sx
    val wantR = if (den == 0) 0.0
      else (m * sxy - sx * sx).toDouble / den.toDouble
    for (parts <- Seq(1, 7)) {
      val df = raw.toDF("s", "d").repartition(parts)
      assert(Corpus.avgNeighborDegree(df, col("s"), col("d")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet == wantNd, s"parts=$parts nd")
      val g = Corpus.degreeAssortativity(df, col("s"), col("d")).collect()(0)
      assert(g.getLong(0) == 2L * canon.size && g.getDouble(1) == wantR,
        s"parts=$parts r")
    }
  }

  test("setOverlapMatrix: == pairwise setOverlapEstimate; partition invariance") {
    val rows = (1 to 500).map(i => ("a", s"t$i")) ++
      (300 to 900).map(i => ("b", s"t$i")) ++
      (1 to 20).map(i => ("c", s"x$i"))
    def sliceDf(key: String) =
      rows.filter(_._1 == key).map(_._2).map(Tuple1(_)).toDF("v")
    val want = (for ((p, q) <- Seq(("a", "b"), ("a", "c"), ("b", "c"))) yield {
      val r = Corpus.setOverlapEstimate(sliceDf(p), col("v"),
        sliceDf(q), col("v"), k = 16).collect()(0)
      (p, q, r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))
    }).toSet
    for (parts <- Seq(1, 13)) {
      val got = Corpus.setOverlapMatrix(rows.toDF("k", "v").repartition(parts),
          col("k"), col("v"), k = 16)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getLong(7), r.getLong(8))).toSet
      assert(got == want, s"parts=$parts")
    }
  }

  test("kCore: multi-round cascade, brute-force equality, broadcast-path invariance") {
    def brute(edges: Seq[(String, String)], k: Int, iters: Int): Map[String, Long] = {
      var e = edges.filter(p => p._1 != p._2)
        .map(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max)).distinct
      for (_ <- 1 to iters) {
        val deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
          .view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    def run(edges: Seq[(String, String)], k: Int, iters: Int,
            cap: Long = 8000000L): Map[String, Long] =
      Corpus.kCore(edges.toDF("s", "d").repartition(5), col("s"), col("d"),
          k = k, iters = iters, maxBroadcastNodes = cap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // path graph, k=2: endpoints peel one layer PER ROUND (the
    // cascade fixed-iteration bounds) — a-b-c-d-e-f
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
    assert(run(path, 2, 1) == Map("b" -> 1L, "c" -> 2L, "d" -> 2L, "e" -> 1L))
    assert(run(path, 2, 2) == Map("c" -> 1L, "d" -> 1L))
    assert(run(path, 2, 3) == Map.empty)
    // K5 survives k=4 forever; self-loops/dups/directions are hygiene
    val k5 = for { a <- Seq("p", "q", "r", "s", "t")
                   b <- Seq("p", "q", "r", "s", "t") if a < b } yield (a, b)
    val noisy = k5 ++ k5.map(_.swap) ++ Seq(("p", "p"))
    assert(run(noisy, 4, 3) == k5.flatMap(p => Seq(p._1, p._2))
      .distinct.map(_ -> 4L).toMap)
    // randomized equality vs brute force, broadcast AND shuffled paths
    val rnd = new scala.util.Random(19)
    val nodes = (1 to 30).map(_.toString)
    val redges = for { a <- nodes; b <- nodes
      if a < b && rnd.nextDouble() < 0.12 } yield (a, b)
    val want = brute(redges, 3, 3)
    assert(run(redges, 3, 3) == want)
    assert(run(redges, 3, 3, cap = 0L) == want) // forced shuffled fallback
  }

  test("kCoreConverged: fixpoint equality on planted cascades, truncation flag") {
    def bruteFix(edges: Seq[(String, String)], k: Int): Map[String, Long] = {
      var e = edges.filter(p => p._1 != p._2)
        .map(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max)).distinct
      var changed = true
      while (changed) {
        val deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
          .view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val ne = e.filter(p => keep(p._1) && keep(p._2))
        changed = ne.size != e.size
        e = ne
      }
      (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    def run(edges: Seq[(String, String)], k: Int, maxIters: Int = 50)
        : (Map[String, Long], Boolean, Int) = {
      val rows = Corpus.kCoreConverged(edges.toDF("s", "d").repartition(5),
        col("s"), col("d"), k = k, maxIters = maxIters).collect()
      (rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
        rows.headOption.forall(_.getBoolean(2)),
        rows.headOption.map(_.getInt(3)).getOrElse(-1))
    }
    // deep cascade: an a-b-c-d-e-f path at k=2 needs 3 peel rounds to
    // empty; K5 core attached via one pendant edge survives intact
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
    val k5 = for { a <- Seq("p", "q", "r", "s", "t")
                   b <- Seq("p", "q", "r", "s", "t") if a < b } yield (a, b)
    val g = path ++ k5 ++ Seq(("f", "p"))
    val (core, conv, rounds) = run(g, 3)
    assert(core == bruteFix(g, 3) && conv)
    // the path contributes nothing at k=3; K5 is the fixpoint, found
    // in round 1 + one no-op proof round
    assert(rounds == 2)
    // randomized fixpoint equality
    val rnd = new scala.util.Random(23)
    val nodes = (1 to 30).map(_.toString)
    val redges = for { a <- nodes; b <- nodes
      if a < b && rnd.nextDouble() < 0.12 } yield (a, b)
    val (rc, rconv, _) = run(redges, 3)
    assert(rc == bruteFix(redges, 3) && rconv)
    // maxIters truncation surfaces as converged=false (k=2 path needs
    // 3 real rounds; 1 is not enough and the flag must say so)
    val (tc, tconv, trounds) = run(path, 2, maxIters = 1)
    assert(!tconv && trounds == 1 && tc.nonEmpty)
  }

  test("prCurve == driver reference; edge cases; partition/chunk invariance") {
    def ref(rows: Seq[(Double, Int)]): Seq[(Double, Long, Long, Long, Long, Double, Double)] = {
      val perS = rows.groupBy { case (s, _) => BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
        .map { case (s, g) => (s, g.count(_._2 == 1).toLong, g.count(_._2 == 0).toLong) }
        .toSeq.sortBy(-_._1)
      val totP = perS.map(_._2).sum
      val totN = perS.map(_._3).sum
      var tp = 0L; var fp = 0L
      perS.map { case (s, p, n) =>
        tp += p; fp += n
        (s, tp, fp, totP - tp, totN - fp,
          tp.toDouble / (tp + fp), if (totP == 0) 0.0 else tp.toDouble / totP)
      }
    }
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map(_ =>
      (rnd.nextInt(20) / 19.0, if (rnd.nextBoolean()) 1 else 0)) ++
      Seq((0.5, 1), (0.5, 0), (0.5, 1)) // heavy tie at one threshold
    val df = rows.toDF("s", "y")
    for (chunks <- Seq(1, 7, 256)) {
      val got = Corpus.prCurve(df.repartition(13), col("s"), col("y"),
          chunks = chunks)
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
      assert(got == ref(rows).toSet, s"chunks=$chunks")
    }
    // all-positive / all-negative / single score / empty
    val allPos = Seq((0.1, 1), (0.9, 1)).toDF("s", "y")
    val gp = Corpus.prCurve(allPos, col("s"), col("y")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(5), r.getDouble(6))).toSet
    assert(gp == Set((0.9, 1L, 1.0, 0.5), (0.1, 2L, 1.0, 1.0)))
    val allNeg = Seq((0.3, 0)).toDF("s", "y")
    val gn = Corpus.prCurve(allNeg, col("s"), col("y")).collect()
      .map(r => (r.getDouble(0), r.getLong(2), r.getDouble(6))).toSet
    assert(gn == Set((0.3, 1L, 0.0)))
    assert(Corpus.prCurve(Seq.empty[(Double, Int)].toDF("s", "y"),
      col("s"), col("y")).count() == 0)
    intercept[Exception] {
      Corpus.prCurve(Seq((0.1, 2)).toDF("s", "y"), col("s"), col("y")).collect()
    }
    // a 2-label hiding among 0s at the SAME score must still throw
    // (the per-group sum proxy let it through — review catch)
    intercept[Exception] {
      Corpus.prCurve(Seq((0.5, 2), (0.5, 0), (0.5, 0)).toDF("s", "y"),
        col("s"), col("y")).collect()
    }
    intercept[Exception] {
      Corpus.rocAuc(Seq((0.5, 2), (0.5, 0), (0.5, 0)).toDF("s", "y"),
        col("s"), col("y")).collect()
    }
    // integer-typed scores must work (round preserves int types;
    // the stats reads crashed pre-fix — review catch)
    val intScored = Corpus.prCurve(Seq((5, 1), (3, 0)).toDF("s", "y"),
      col("s"), col("y")).collect()
    assert(intScored.map(r => (r.getDouble(0), r.getLong(1))).toSet ==
      Set((5.0, 1L), (3.0, 1L)))
    assert(Corpus.rocAuc(Seq((5, 1), (3, 0)).toDF("s", "y"),
      col("s"), col("y")).head().getDouble(0) == 1.0)
  }

  test("keySkewReport: counts/share/skew exact, escape injective, null keys, ties deterministic") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"), ("a", "x"),
      ("b", "x"), ("b", "x"),
      ("c", "y"), (null, "y"), ("", "y"),
      // escape probe: these two tuples must NOT alias
      ("pq", "r"), ("p", "qr")
    ).toDF("k1", "k2")
    val got = Corpus.keySkewReport(df.repartition(5), Seq("k1", "k2"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.length == 7)
    assert(got.head._2 == "a\u0001x" && got.head._3 == 4L)
    assert(got.head._4 == 4.0 / 11 && got.head._5 == 4.0 * 7 / 11)
    assert(got(1)._3 == 2L)
    // distinct tuples with embedded separators render distinctly
    val keys = got.map(_._2).toSet
    assert(keys.count(k => k.contains("p") && k.contains("q")) == 2)
    assert(got.map(_._2).distinct.length == 7)
    // null component renders as '' and counts as its own group
    // null renders as the bare separator; '' as the empty escape —
    // the two groups may NOT alias (the r10 session-4 review catch)
    assert(keys.contains("\u0001" + "\u0001" + "y")) // null component
    assert(keys.contains("" + "\u0001" + "y"))        // empty component
    // rank sequence is 1..7 and deterministic under re-run
    assert(got.map(_._1).toSeq == (1L to 7L))
    val again = Corpus.keySkewReport(df.repartition(2), Seq("k1", "k2"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSeq == got.map(t => (t._1, t._2)).toSeq)
    assert(Corpus.keySkewReport(df.limit(0), Seq("k1"), topK = 3).count() == 0)
  }

  test("rocAuc == driver midrank reference; degenerate 0.5; calibrationBins exact") {
    def refAuc(rows: Seq[(Double, Int)]): Double = {
      val r = rows.map { case (s, y) =>
        (BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, y) }
      val sorted = r.sortBy(_._1)
      // midranks over the ascending order (ties share the mean rank)
      val byS = sorted.groupBy(_._1).toSeq.sortBy(_._1)
      var seen = 0L
      var rankSum = 0.0
      byS.foreach { case (_, g) =>
        val mid = seen + (g.size + 1) / 2.0
        rankSum += g.count(_._2 == 1) * mid
        seen += g.size
      }
      val p = r.count(_._2 == 1).toDouble
      val n = r.count(_._2 == 0).toDouble
      (rankSum - p * (p + 1) / 2.0) / (p * n)
    }
    val rnd = new scala.util.Random(23)
    // informative score: positives skew high, plus deliberate ties
    val rows = (1 to 300).map { _ =>
      val y = if (rnd.nextBoolean()) 1 else 0
      val s = math.min(1.0, math.max(0.0,
        0.3 * y + rnd.nextInt(8) / 10.0))
      (s, y)
    }
    val df = rows.toDF("s", "y")
    for (chunks <- Seq(1, 5, 256)) {
      val got = Corpus.rocAuc(df.repartition(7), col("s"), col("y"),
        chunks = chunks).head()
      assert(got.getDouble(0) == refAuc(rows), s"chunks=$chunks")
      assert(got.getLong(1) == rows.count(_._2 == 1) &&
        got.getLong(2) == rows.count(_._2 == 0))
    }
    // degenerate: one class only, and empty
    assert(Corpus.rocAuc(Seq((0.2, 1), (0.9, 1)).toDF("s", "y"),
      col("s"), col("y")).head().getDouble(0) == 0.5)
    assert(Corpus.rocAuc(Seq.empty[(Double, Int)].toDF("s", "y"),
      col("s"), col("y")).head().getDouble(0) == 0.5)
    // perfect separation = 1.0 exactly
    assert(Corpus.rocAuc(
      Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("s", "y"),
      col("s"), col("y")).head().getDouble(0) == 1.0)

    val cal = Corpus.calibrationBins(df, col("s"), col("y"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val refBins = rows.groupBy { case (s, _) =>
      math.min(9, math.floor(s * 10).toInt).toLong }
    refBins.foreach { case (b, g) =>
      val (n, ms, fp) = cal(b)
      assert(n == g.size)
      assert(math.abs(ms - g.map(_._1).sum / g.size) < 1e-6)
      assert(fp == g.count(_._2 == 1).toDouble / g.size)
    }
    assert(cal.keySet == refBins.keySet)
    intercept[Exception] {
      Corpus.calibrationBins(Seq((1.5, 1)).toDF("s", "y"),
        col("s"), col("y")).collect()
    }
  }

  test("heavyHitters: exact output under sketch saturation, strict threshold, partition invariance") {
    // planted skew: 2 heavy items + 400 singleton tails; k = 10 keeps
    // at most 9 counters per partial, so the summary SATURATES and
    // the decrement/merge-shrink paths run — yet the recount makes
    // the output exact: N = 1200, threshold 120, hitters h1/h2 only
    val rows = Seq.fill(500)("h1") ++ Seq.fill(300)("h2") ++
      (0 until 400).map(i => s"t$i")
    val df = rows.map(Tuple1(_)).toDF("k").repartition(7)
    val got = Corpus.heavyHitters(df, col("k"), k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("h1" -> 500L, "h2" -> 300L), got.toString)
    // threshold is STRICT: count == N/k is excluded (N = 20, k = 4,
    // threshold 5: a = 10 in, b = 5 out)
    val tie = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++ Seq.fill(4)("c")
      ++ Seq("d")).map(Tuple1(_)).toDF("k")
    val gt = Corpus.heavyHitters(tie, col("k"), k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gt == Map("a" -> 10L), gt.toString)
    // all-tail input: empty result, not an error
    val flat = (0 until 30).map(i => Tuple1(s"u$i")).toDF("k")
    assert(Corpus.heavyHitters(flat, col("k"), k = 5).count() == 0)
    // nulls are not countable items and don't inflate N
    val wn = (Seq("a", "a", "a", null, null) ++ Seq("b"))
      .map(Tuple1(_)).toDF("k")
    val gn = Corpus.heavyHitters(wn, col("k"), k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gn == Map("a" -> 3L), gn.toString) // N = 4, threshold 2
    // partitioning must not change the RESULT (the MG candidate set
    // may differ; the recount + threshold make it canonical)
    val g1 = Corpus.heavyHitters(df.repartition(1), col("k"), k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g1 == got)
  }

  test("labelPropagation: cliques converge to min label; direction/" +
      "multi-edge/partitioning invariance") {
    // two disjoint triangles: each converges to its min node id
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("s", "d")
    val got = Corpus.labelPropagation(tri, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"), got.toString)
    // edge direction and duplicate edges must not matter (canonical
    // simple graph: multi-edges do NOT weight votes)
    val messy = Seq(("b", "a"), ("a", "b"), ("c", "b"), ("a", "c"),
      ("y", "x"), ("z", "y"), ("z", "x"), ("z", "x")).toDF("s", "d")
    val gm = Corpus.labelPropagation(messy, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gm == got, gm.toString)
    // self-loops drop; a bridge node joins the lexicographically
    // richer side deterministically — and repartitioning never
    // changes any label (integer votes, total-order tie-break)
    val bridged = tri.union(Seq(("c", "x"), ("c", "c")).toDF("s", "d"))
    val g1 = Corpus.labelPropagation(bridged, col("s"), col("d"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val g2 = Corpus.labelPropagation(bridged.repartition(7), col("s"),
        col("d"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(g1 == g2, s"$g1 vs $g2")
  }

  test("personalizedPageRank: closed-form cycle, exact zeros off the " +
      "seed component, all-seeds == pageRank, off-graph seeds drop") {
    // 3-cycle (no dangling nodes -> dm = 0 every round) + a detached
    // a2 -> b2 edge: the detached pair gets NO mass, exactly 0.0
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a2", "b2"))
      .toDF("s", "d")
    val seeds = Seq(Tuple1("a")).toDF("n")
    val r2 = Corpus.personalizedPageRank(e, col("s"), col("d"), seeds,
        iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // hand-derived: r1 = (.15, .85, 0); r2 = (.15, .1275, .7225)
    // (b2 IS dangling, but its rank is 0 in every round, so dm = 0)
    assert(math.abs(r2("a") - 0.15) < 1e-11, r2.toString)
    assert(math.abs(r2("b") - 0.1275) < 1e-11, r2.toString)
    assert(math.abs(r2("c") - 0.7225) < 1e-11, r2.toString)
    assert(r2("a2") == 0.0 && r2("b2") == 0.0, r2.toString)
    // seeds = every node degenerates to plain pageRank (t = 1/n)
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    val all = Seq("a", "b", "c").map(Tuple1(_)).toDF("n")
    val ppr = Corpus.personalizedPageRank(cyc, col("s"), col("d"), all,
        iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pr = Corpus.pageRank(cyc, col("s"), col("d"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ppr == pr, s"$ppr vs $pr")
    // seeds not present in the graph are dropped from the teleport
    // denominator: {a, zzz} behaves as {a}; mass conserves with
    // dangling redistribution (c -> sink graph)
    val dang = Seq(("a", "b"), ("b", "sink")).toDF("s", "d")
    val sz = Corpus.personalizedPageRank(dang, col("s"), col("d"),
        Seq("a", "zzz").map(Tuple1(_)).toDF("n"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sa = Corpus.personalizedPageRank(dang, col("s"), col("d"),
        Seq(Tuple1("a")).toDF("n"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sz == sa, s"$sz vs $sa")
    assert(math.abs(sz.values.sum - 1.0) < 1e-9, sz.toString)
    // deterministic across partitioning
    val rp = Corpus.personalizedPageRank(e.repartition(5), col("s"),
        col("d"), seeds, iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rp == r2)
  }

  test("pageRank/personalizedPageRank: the dangling mass rides inside the " +
      "round — a fixed number of build jobs per round, bit-equal to the " +
      "driver-side form") {
    // the fixed numbers: 1 per round over dense ids, the checkpointed
    // SQL round's stages on the shuffled path
    // random multigraph with dangling nodes (ids >= 40 never appear as
    // a source), weights 1-3, spread over several partitions
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(40).toString,
      rnd.nextInt(60).toString, 1L + rnd.nextInt(3))).toDF("s", "d", "w")
      .repartition(6)
    val seeds = Seq("1", "7", "55").map(Tuple1(_)).toDF("n")
    // (path, node cap, build jobs per round): a cap of 0 forces the
    // shuffled loop
    val paths = Seq(("dense", 8000000L, DenseRoundJobs),
      ("shuffled", 0L, ShuffledRoundJobs))
    for ((path, cap, perRoundJobs) <- paths) {
      val runs = Seq[(String, Int => DataFrame, Int => DataFrame)](
        ("pageRank",
          i => Corpus.pageRank(edges, col("s"), col("d"), iters = i,
            maxBroadcastNodes = cap, weight = col("w")),
          i => driverDanglingRank(edges, None, i, weighted = true)),
        ("personalizedPageRank",
          i => Corpus.personalizedPageRank(edges, col("s"), col("d"), seeds,
            iters = i, maxBroadcastNodes = cap),
          i => driverDanglingRank(edges, Some(seeds), i, weighted = false)))
      for ((name, build, reference) <- runs) {
        // a per-round driver action or a per-round checkpoint brought
        // back moves this increment
        val perRound =
          (TestSpark.jobsStarted(build(4))._2 - TestSpark.jobsStarted(build(2))._2) / 2.0
        assert(perRound == perRoundJobs, s"$name/$path: $perRound build jobs per round")
        def bits(df: DataFrame) = df.collect()
          .map(r => r.getString(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
        assert(bits(build(4)) == bits(reference(4)), s"$name/$path")
      }
    }
    Dedup.releaseMaterialized(spark)
  }

  test("pageRank over dense ids: the output does not depend on the edge " +
      "partitioning, and nothing stays persisted") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(500)((rnd.nextInt(70).toString,
      rnd.nextInt(90).toString, 1L + rnd.nextInt(4))).toDF("s", "d", "w")
    def bits(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val sc = spark.sparkContext
    val outs = Seq(1, 5, 13).map { p =>
      // checked right after the call: Spark keeps persisted RDDs by weak
      // reference, so a leaked one could vanish from the map after a GC
      val before = sc.getPersistentRDDs.keySet
      val ranks = Corpus.pageRank(edges.repartition(p), col("s"), col("d"),
        iters = 4, weight = col("w"))
      assert(sc.getPersistentRDDs.keySet == before, sc.getPersistentRDDs.toString)
      bits(ranks)
    }
    assert(outs.distinct.size == 1, "outputs differ across 1 / 5 / 13 partitions")
    assert(outs.head.size == edges.select("s").union(edges.select("d")).distinct().count())
  }

  test("sqlRound matches Spark's round(x, 12) on columns (codegen) and " +
      "literals (eval), half-way values included") {
    val rnd = new scala.util.Random(3)
    // random magnitudes around rank scale, and k·1e-12 + 5e-13: values
    // whose shortest decimal form ends exactly on the HALF_UP boundary
    val xs = Seq.fill(100000)(rnd.nextDouble() * math.pow(10, -rnd.nextInt(8))) ++
      (0 until 2000).map(_ => rnd.nextInt(1000000000) * 1e-12 + 5e-13) ++
      Seq(0.0, 1.0, 5e-13, 1.5e-12, Double.NaN, Double.PositiveInfinity)
    val got = xs.toDF("x").select(col("x"), round(col("x"), 12))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.length == xs.length)
    for ((x, r) <- got) assert(
      java.lang.Double.doubleToRawLongBits(Corpus.sqlRound(x, 12)) ==
        java.lang.Double.doubleToRawLongBits(r), s"round($x, 12): $r vs ${Corpus.sqlRound(x, 12)}")
    for (x <- xs.take(200) ++ xs.takeRight(200)) {
      val r = spark.range(1).select(round(lit(x), 12)).head().getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(Corpus.sqlRound(x, 12)) ==
        java.lang.Double.doubleToRawLongBits(r), s"round(lit($x), 12)")
    }
  }

  test("hits: the norm sums ride inside the round — no driver action per round, " +
      "a fixed number of build jobs per round") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((rnd.nextInt(40).toString, rnd.nextInt(50).toString))
      .toDF("s", "d").repartition(5)
    val heads = new java.util.concurrent.atomic.AtomicInteger
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "head") heads.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // (build jobs, driver `head` actions) of building `iters` rounds
    def build(iters: Int): (Int, Int) = {
      heads.set(0)
      val jobs = TestSpark.jobsStarted(
        Corpus.hits(edges, col("s"), col("d"), iters = iters))._2
      (jobs, heads.get)
    }
    spark.listenerManager.register(l)
    try {
      val ((jobs2, heads2), (jobs4, heads4)) = (build(2), build(4))
      // the node-count head() that picks the join strategy runs once
      assert(heads2 == 1 && heads4 == 1, s"head actions: $heads2, $heads4")
      assert((jobs4 - jobs2) / 2.0 == HitsPerRoundBuildJobs,
        s"${(jobs4 - jobs2) / 2.0} build jobs per round")
    } finally spark.listenerManager.unregister(l)
    Dedup.releaseMaterialized(spark)
  }

  /** Build jobs each extra HITS round starts: the query stages that
    * lazily checkpointing its four materialized sides runs. The two
    * norm sums are a shuffle and a broadcast each; the driver-side
    * `head()` sums they replace were a shuffle and a result job each,
    * so the count did not change — what went is the driver round trip
    * (see the head-action count above). */
  private val HitsPerRoundBuildJobs = 10.0

  /** Build jobs each extra pageRank round starts over dense ids: the
    * round's one job, which adds every partition's contributions into a
    * dense partial array. The SQL loop's lazily checkpointed round
    * started 5. */
  private val DenseRoundJobs = 1.0

  /** Build jobs each extra round of the shuffled SQL loop starts: the
    * query stages that lazily checkpointing the round's ranks runs with
    * no state side broadcast-hinted (the shuffles of both sides of the
    * edge⋈rank join and of the node⋈contribution join, the per-target
    * sum, the dangling-mass aggregate and its broadcast). */
  private val ShuffledRoundJobs = 8.0

  /** The pageRank / personalizedPageRank loop as it ran before the
    * dangling mass moved into the round: every round re-joins the
    * out-degrees and sums the dangling mass on the driver. */
  private def driverDanglingRank(edges: DataFrame, seeds: Option[DataFrame],
                                 iters: Int, weighted: Boolean,
                                 damping: Double = 0.85): DataFrame = {
    val e = Dedup.materializeLazily(edges.select(col("s").as("__s"),
      col("d").as("__d"), (if (weighted) col("w") else lit(1L)).as("__wt")))
    val nodes = Dedup.materializeLazily(
      e.select(col("__s").as("__n")).union(e.select(col("__d").as("__n"))).distinct())
    val n = nodes.count().toDouble
    val outdeg = Dedup.materializeLazily(e.groupBy("__s").agg(
      (if (weighted) sum(col("__wt")) else count(lit(1))).as("__deg")))
    val tele = seeds.fold(nodes.withColumn("__t", lit(1.0 / n))) { sd =>
      val s = sd.select(col("n").as("__seed")).distinct()
        .join(nodes.select(col("__n").as("__seed")), Seq("__seed"), "left_semi")
      val k = s.count().toDouble
      Dedup.materializeLazily(nodes.join(broadcast(s), col("__n") === col("__seed"), "left")
        .select(col("__n"), when(col("__seed").isNotNull, lit(1.0 / k))
          .otherwise(lit(0.0)).as("__t")))
    }
    var ranks = tele.select(col("__n"), round(col("__t"), 12).as("__r"))
    for (_ <- 1 to iters) {
      val dangling = ranks.join(broadcast(outdeg), col("__n") === col("__s"), "left_anti")
        .agg(coalesce(sum(col("__r")), lit(0.0))).head().getDouble(0)
      val contribs = e.join(broadcast(ranks), col("__s") === col("__n"))
        .join(broadcast(outdeg), "__s")
        .select(col("__d").as("__n"),
          (if (weighted) col("__r") / col("__deg") * col("__wt")
           else col("__r") / col("__deg")).as("__c"))
        .groupBy("__n").agg(sum(col("__c")).as("__in"))
      val teleTerm = if (seeds.isEmpty) lit((1.0 - damping) / n)
        else lit(1.0 - damping) * col("__t")
      ranks = Dedup.materializeLazily(tele.join(broadcast(contribs), Seq("__n"), "left")
        .select(col("__n"), round(teleTerm + lit(damping) *
          (coalesce(col("__in"), lit(0.0)) + lit(dangling / n)), 12).as("__r")))
    }
    ranks
  }

  test("unigramShiftReport: hand-derived KL, OOV count, partition " +
      "invariance, smoothing alpha") {
    // P tokens: x,x,y,w ; Q tokens: x,y,y,z  (w is P-only -> OOV)
    val df = Seq(
      (true, Seq("x", "x", "y", "w")),
      (false, Seq("x", "y")),
      (false, Seq("y", "z"))).toDF("isp", "toks")
    val got = Corpus.unigramShiftReport(df, col("isp"), col("toks"))
      .collect().head
    assert(got.getLong(0) == 4L && got.getLong(1) == 4L, got.toString) // np nq
    assert(got.getLong(2) == 4L, got.toString)                         // vocab
    assert(got.getLong(3) == 1L, got.toString)                         // oov=w
    // driver replica with the operator's exact double arithmetic
    val np = 4.0; val nqv = (4L + 1L * 4L).toDouble
    def term(cp: Long, cq: Long): Long = {
      val pw = cp.toDouble / np
      math.round(pw * math.log(pw * nqv / (cq + 1L).toDouble) * 1e9)
    }
    val expected = term(2, 1) + term(1, 2) + term(1, 0) // x, y, w
    assert(got.getLong(4) == expected, s"${got.getLong(4)} vs $expected")
    assert(got.getDouble(5) == expected.toDouble / 1e9, got.toString)
    // exact longs => bit-identical under any partitioning
    val gp = Corpus.unigramShiftReport(df.repartition(5), col("isp"),
      col("toks")).collect().head
    assert(gp == got, s"$gp vs $got")
    // heavier smoothing shrinks |KL| toward the uniform prior
    val g2 = Corpus.unigramShiftReport(df, col("isp"), col("toks"),
      alpha = 50L).collect().head
    assert(math.abs(g2.getDouble(5)) != math.abs(got.getDouble(5)))
  }

  test("rrfFuse: hand-computed integer contributions, tie-break, single-list items") {
    val lex = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("id", "rank")
    val vec = Seq(("b", 1L), ("a", 2L), ("d", 3L)).toDF("id", "rank")
    val got = Corpus.rrfFuse(Seq(lex, vec), "id", "rank", c = 60, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._4)
    val s = 1000000000000L
    def ct(r: Long) = s / (60L + r)
    // a: ranks 1+2 ; b: ranks 2+1 (tie with a) -> id tiebreak a before b
    assert(got(0) == ("a", ct(1) + ct(2), 2L, 1L), got.mkString(","))
    assert(got(1) == ("b", ct(2) + ct(1), 2L, 2L))
    // c and d each in one list at rank 3 -> tie, id order
    assert(got(2) == ("c", ct(3), 1L, 3L))
    assert(got(3) == ("d", ct(3), 1L, 4L))
    // k cuts the fused list
    assert(Corpus.rrfFuse(Seq(lex, vec), "id", "rank", k = 2).count() == 2)
    // ranks are 1-based BY CONTRACT (r12 ADVICE): a 0-based or
    // negative list fails fast instead of silently inflating its
    // contributions (and rank = -c would divide by zero)
    val zeroBased = Seq(("a", 0L), ("b", 1L)).toDF("id", "rank")
    intercept[Exception] {
      Corpus.rrfFuse(Seq(lex, zeroBased), "id", "rank").collect()
    }
  }

  test("columnProfile: exact counts/nulls/distincts, numeric and string min/max, approx tier") {
    val df = Seq(
      (1L, Some(2.5), Some("b")),
      (2L, None, Some("a")),
      (3L, Some(-1.0), None),
      (3L, Some(2.5), Some("cc"))).toDF("k", "x", "s")
    val got = Corpus.columnProfile(df, exact = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = got("k")
    assert(k.getString(1) == "bigint" && k.getLong(2) == 4 &&
      k.getLong(3) == 0 && k.getLong(4) == 3)
    assert(k.getDouble(5) == 1.0 && k.getDouble(6) == 3.0)
    assert(k.isNullAt(7) && k.isNullAt(9)) // no string metrics
    val x = got("x")
    assert(x.getLong(3) == 1 && x.getLong(4) == 2) // one null, {2.5,-1.0}
    assert(x.getDouble(5) == -1.0 && x.getDouble(6) == 2.5)
    val st = got("s")
    assert(st.getLong(3) == 1 && st.getLong(4) == 3)
    assert(st.isNullAt(5) && st.getString(7) == "a" &&
      st.getString(8) == "cc" && st.getLong(9) == 4) // b+a+cc
    // approx tier returns plausible distincts without the Expand pass
    val ap = Corpus.columnProfile(df).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(ap("k") >= 2 && ap("k") <= 4 && ap("s") >= 2)
  }

  test("hopNeighborhoodEstimate: exact BFS balls below k, direction, partition invariance") {
    // path 1->2->3->4 plus 5 isolated-ish back edge 4->1 (a cycle)
    val e = Seq((1, 2), (2, 3), (3, 4), (4, 1)).toDF("s", "d")
    // directed, 2 hops, k large => exact ball sizes: every node sees
    // itself + 2 successors on the 4-cycle = 3
    val got = Corpus.hopNeighborhoodEstimate(e, col("s"), col("d"),
        hops = 2, k = 16)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 4)
    got.values.foreach { case (est, kept, exact) =>
      assert(est == 3.0 && kept == 3 && exact == 1L, got.toString) }
    // undirected: 2 hops on the 4-cycle reaches everything
    val und = Corpus.hopNeighborhoodEstimate(e, col("s"), col("d"),
        hops = 2, k = 16, directed = false)
      .collect().map(_.getDouble(1))
    assert(und.forall(_ == 4.0), und.mkString(","))
    // hops=1 directed: self + 1 successor
    val h1 = Corpus.hopNeighborhoodEstimate(e, col("s"), col("d"),
        hops = 1, k = 16).collect().map(_.getDouble(1))
    assert(h1.forall(_ == 2.0))
    // md5 tier: estimates are a pure function of the ball set ->
    // bit-identical under any partitioning even ABOVE k (star graph,
    // hub ball > k forces the estimator path)
    val star = (1 to 40).map(i => (0, i)).toDF("s", "d")
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.hopNeighborhoodEstimate(df, col("s"), col("d"),
        hops = 1, k = 16).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(3))).sorted
    val a = run(star); val b = run(star.repartition(7))
    assert(a.sameElements(b))
    val hub = a.find(_._1 == "0").get
    assert(hub._3 == 0L && hub._2 > 16.0, hub.toString) // estimator path
  }

  test("harmonicCentralityEstimate: star/chain closed forms, estimator invariance") {
    // undirected star, 6 leaves, balls < k => exact tier:
    // center: ball1 = 7 -> (7-1)/1 + (7-7)/2 = 6
    // leaf:   ball1 = 2, ball2 = 7 -> 1 + 5/2 = 3.5
    val star = (1 to 6).map(i => (0, i)).toDF("s", "d")
    val got = Corpus.harmonicCentralityEstimate(star, col("s"), col("d"),
        hops = 2, k = 64, directed = false)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got("0") == ((6.0, 7.0, 1L)), got.toString)
    (1 to 6).foreach(i => assert(got(i.toString) == ((3.5, 7.0, 1L))))
    // directed chain a->b->c: harmonic(a) = 1 + 1/2, (b) = 1, (c) = 0
    val chain = Seq(("a", "b"), ("b", "c")).toDF("s", "d")
    val ch = Corpus.harmonicCentralityEstimate(chain, col("s"), col("d"),
        hops = 2, k = 16).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ch == Map("a" -> 1.5, "b" -> 1.0, "c" -> 0.0), ch.toString)
    // above-k estimator path: each per-hop estimate is a pure function
    // of the ball set => bit-identical across partitionings; ball
    // monotonicity makes every term (hence the sum) non-negative
    val big = (1 to 40).map(i => (0, i)).toDF("s", "d")
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.harmonicCentralityEstimate(df, col("s"), col("d"),
          hops = 2, k = 16, directed = false).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(3))).sorted
    val a = run(big); val b = run(big.repartition(5))
    assert(a.sameElements(b))
    assert(a.forall(_._2 >= 0.0), a.mkString(","))
  }

  test("rankedEvalReport: hand metrics, perfect ranking, zero-truth and no-hit edges") {
    val disc = Corpus.ndcgDiscounts(3)
    val cum = disc.scanLeft(0L)(_ + _).tail
    // q1: truth {a,b,c}, ranked [a, x, b]; q2: perfect top-3, n_rel=4;
    // q3: no truth rows at all; q4: truth exists but no hits
    val ranked = Seq(
      ("q1", "a", 1L), ("q1", "x", 2L), ("q1", "b", 3L),
      ("q2", "a", 1L), ("q2", "b", 2L), ("q2", "c", 3L),
      ("q3", "a", 1L),
      ("q4", "x", 1L), ("q4", "y", 2L)).toDF("q", "d", "r")
    val truth = Seq(
      ("q1", "a"), ("q1", "b"), ("q1", "c"),
      ("q2", "a"), ("q2", "b"), ("q2", "c"), ("q2", "d"),
      ("q4", "z")).toDF("tq", "td")
    val got = Corpus.rankedEvalReport(ranked, "q", "d", "r",
        truth, "tq", "td", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val q1 = got("q1")
    assert(q1.getLong(1) == 3 && q1.getLong(2) == 3 && q1.getLong(3) == 2)
    assert(q1.getDouble(4) == 2.0 / 3.0 && q1.getDouble(5) == 2.0 / 3.0)
    assert(q1.getDouble(6) == 1.0) // first hit at rank 1
    val dcg1 = disc(0) + disc(2)   // hits at ranks 1 and 3
    assert(q1.getDouble(7) == dcg1.toDouble / cum(2).toDouble)
    val q2 = got("q2") // all top-3 relevant, idcg = cum(3) => exactly 1
    assert(q2.getDouble(7) == 1.0 && q2.getDouble(4) == 1.0 &&
      q2.getDouble(5) == 0.75 && q2.getDouble(6) == 1.0)
    val q3 = got("q3")
    assert(q3.getLong(2) == 0 && q3.getDouble(5) == 0.0 &&
      q3.getDouble(6) == 0.0 && q3.getDouble(7) == 0.0)
    val q4 = got("q4")
    assert(q4.getLong(2) == 1 && q4.getLong(3) == 0 &&
      q4.getDouble(6) == 0.0 && q4.getDouble(7) == 0.0)
    // discount table: disc(1) = scale exactly, strictly decreasing
    assert(disc.head == 1000000000000L &&
      disc == disc.sorted(Ordering[Long].reverse))
    // 0-based ranks violate the 1-based contract and fail FAST
    // rather than silently shifting every discount
    val zero = Seq(("q1", "a", 0L), ("q1", "b", 1L)).toDF("q", "d", "r")
    intercept[Exception] {
      Corpus.rankedEvalReport(zero, "q", "d", "r", truth, "tq", "td",
        k = 3).collect()
    }
  }

  test("numericOutlierReport: exact quartiles, Tukey fences, planted outliers, all-null column") {
    // sorted: -100,1..8,100 (n=10); q1 = rank ceil(2.5)=3 -> 2,
    // q3 = rank ceil(7.5)=8 -> 7; fences 2-1.5*5 = -5.5, 7+1.5*5 = 14.5
    val df = ((1 to 8).map(_.toDouble) ++ Seq(-100.0, 100.0))
      .map(x => (x, Option.empty[Double])).toDF("x", "z")
    val got = Corpus.numericOutlierReport(df, Seq("x", "z"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = got("x")
    assert(x.getLong(1) == 10 && x.getDouble(2) == 2.0 &&
      x.getDouble(3) == 7.0)
    assert(x.getDouble(4) == -5.5 && x.getDouble(5) == 14.5)
    assert(x.getLong(6) == 1 && x.getLong(7) == 1)
    val z = got("z") // all-null: NULL fences, zero counts
    assert(z.getLong(1) == 0 && z.isNullAt(2) && z.isNullAt(5) &&
      z.getLong(6) == 0 && z.getLong(7) == 0)
  }

  test("spikeReport: planted window counts, integer median/MAD, strict flag") {
    // windows of 10 s with counts 1, 2, 2, 3, 100:
    // median = 3rd of sorted counts = 2; |d| sorted = 0,0,1,1,98 ->
    // MAD = 1; threshold = 2 + 3*1 = 5 -> only the 100-window flags
    val ts = Seq(0L) ++ Seq(10L, 11L) ++ Seq(20L, 21L) ++
      Seq(30L, 31L, 32L) ++ (0 until 100).map(i => 40L + i % 10)
    val got = Corpus.spikeReport(ts.toDF("t"), col("t"), windowSec = 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.size == 5)
    assert(got(0L) == ((1L, 2L, 1L, 5L, 0L)), got.toString)
    assert(got(10L) == ((2L, 2L, 1L, 5L, 0L)))
    assert(got(30L) == ((3L, 2L, 1L, 5L, 0L)))
    assert(got(40L) == ((100L, 2L, 1L, 5L, 1L))) // the spike
    // integer end to end: identical under any partitioning
    val rep = Corpus.spikeReport(ts.toDF("t").repartition(7), col("t"),
      windowSec = 10L).collect().map(_.toSeq).sortBy(_.head.toString)
    val base = Corpus.spikeReport(ts.toDF("t"), col("t"), windowSec = 10L)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(rep.sameElements(base))
    // empty / all-null input: empty report, not a crash
    assert(Corpus.spikeReport(Seq.empty[Long].toDF("t"), col("t"),
      windowSec = 10L).count() == 0)
    assert(Corpus.spikeReport(Seq(Option.empty[Long]).toDF("t"),
      col("t"), windowSec = 10L).count() == 0)
  }

  test("textRankKeywords: hub word ranks highest, mass conserves, short docs drop") {
    import graft.functions.TextFunctions
    // "the" is adjacent to every other word; "rare" appears once at
    // an edge; a 1-token doc contributes no pairs (and must not crash)
    val docs = Seq(
      "the cat sat on the mat",
      "the dog ate the cat",
      "rare the",
      "solo").toDF("text")
    val got = TextFunctions.textRankKeywords(docs, col("text"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(!got.contains("solo"), got.toString)
    val hub = got("the")
    got.foreach { case (w, r) => if (w != "the")
      assert(r < hub, s"$w=$r vs the=$hub") }
    assert(got("rare") == got.values.min)
    // undirected multigraph PageRank conserves total mass (to the
    // per-round 1e-12 rounding: |nodes| * 3 rounds * 5e-13 bound)
    assert(math.abs(got.values.sum - 1.0) < got.size * 3 * 5e-13)
    // deterministic under repartitioning (round-collapsed fp order)
    val rep = TextFunctions.textRankKeywords(docs.repartition(5),
      col("text"), iters = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rep == got)
  }

  test("funnelReport: greedy strictly-after chain, conversion window, non-starters drop") {
    // u1 completes in order; u2's purchase precedes its click (greedy
    // strictly-after rejects it); u3 stops at view; u4 never views;
    // u5 completes but its purchase lands outside a 100 s window
    val ev = Seq(
      ("u1", "view", 10L), ("u1", "click", 20L), ("u1", "purchase", 30L),
      ("u2", "view", 10L), ("u2", "purchase", 15L), ("u2", "click", 20L),
      ("u3", "view", 10L),
      ("u4", "click", 5L), ("u4", "purchase", 6L),
      ("u5", "view", 0L), ("u5", "click", 1L), ("u5", "purchase", 150L))
      .toDF("u", "e", "sec").withColumn("ts", to_timestamp(col("sec")))
    def run(span: Long) =
      Corpus.funnelReport(ev, col("u"), col("ts"), col("e"),
          Seq("view", "click", "purchase"), maxSpanSec = span)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
    val unbounded = run(-1L)
    assert(unbounded.toSeq == Seq((1L, "view", 4L), (2L, "click", 3L),
      (3L, "purchase", 2L)), unbounded.mkString(","))
    val windowed = run(100L) // u5's purchase at t1+150 falls out
    assert(windowed.toSeq == Seq((1L, "view", 4L), (2L, "click", 3L),
      (3L, "purchase", 1L)), windowed.mkString(","))
  }

  test("retentionMatrix: first-active cohorts, offset cells, same-period dedup") {
    val day = 86400L
    val ev = Seq(
      ("u1", 0L), ("u1", 100L), ("u1", day), ("u1", 3 * day), // dup day 0
      ("u2", day + 5L),
      ("u3", 50L), ("u3", day + 50L))
      .toDF("u", "sec").withColumn("ts", to_timestamp(col("sec")))
    val got = Corpus.retentionMatrix(ev, col("u"), col("ts"), day)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 2L, (0L, 3L) -> 1L,
      (day, 0L) -> 1L), got.toString)
  }

  test("cusumShifts: planted level shift, prefix identity == sequential fold, invariance") {
    // 10 baseline windows alternating 9/11 events, then 10 windows of
    // 14: med = 11, mad = 2, slack = 2, threshold = 8; the sustained
    // +1 deviations accumulate and flag late-shift windows
    val counts = (0 until 10).map(i => if (i % 2 == 0) 9 else 11) ++
      Seq.fill(10)(14)
    val ts = counts.zipWithIndex.flatMap { case (c, w) =>
      (0 until c).map(_ => w * 10L)
    }
    val got = Corpus.cusumShifts(ts.toDF("t"), col("t"), windowSec = 10L)
      .orderBy("window_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length == 20)
    assert(got.head._3 == 11L && got.head._4 == 2L && got.head._6 == 8L)
    // sequential reference: s = max(0, s + (cnt - med - slack))
    var s = 0L
    val ref = counts.map { c =>
      s = math.max(0L, s + (c - 11L - 2L)); s
    }
    assert(got.map(_._5).toSeq == ref, got.map(_._5).mkString(","))
    assert(got.map(_._7).toSeq == ref.map(v => if (v > 8L) 1L else 0L))
    assert(got.count(_._7 == 1L) > 0)
    // integer end to end: identical under repartitioning and tiny chunks
    val rep = Corpus.cusumShifts(ts.toDF("t").repartition(7), col("t"),
      windowSec = 10L, chunks = 3).orderBy("window_start").collect()
      .map(_.toSeq)
    assert(rep.sameElements(got.map(p => Seq(p._1, p._2, p._3, p._4,
      p._5, p._6, p._7))))
  }

  test("ewmaByKey: alpha=1/2 fold over the declared order, null drop, invariance") {
    // key a: values 1,2,3 in ts order -> ((1+2)/2 + 3)/2 = 2.25;
    // rows arrive shuffled; a null value is dropped; key b singleton
    val df = Seq(
      ("a", 30L, Some(3.0)), ("a", 10L, Some(1.0)), ("a", 20L, Some(2.0)),
      ("a", 15L, None), ("b", 5L, Some(7.5))).toDF("k", "t", "v")
    val got = Corpus.ewmaByKey(df, Seq(col("k")), col("v"),
        Seq(col("t"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("a") == ((3L, 2.25)), got.toString)
    assert(got("b") == ((1L, 7.5)))
    val rep = Corpus.ewmaByKey(df.repartition(5), Seq(col("k")),
      col("v"), Seq(col("t"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rep == got)
  }

  test("coOccurrenceEdges: unordered weighted pairs, min support, ordering") {
    val df = Seq((1, "b"), (1, "a"), (1, "c"), (2, "a"), (2, "b"),
      (3, "a"), (3, "b")).toDF("g", "i")
    val got = Corpus.coOccurrenceEdges(df, col("g"), col("i"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("a", "b") -> 3L, ("a", "c") -> 1L,
      ("b", "c") -> 1L), got.toString)
    val thr = Corpus.coOccurrenceEdges(df, col("g"), col("i"),
      minCount = 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(thr.toSeq == Seq(("a", "b", 3L)))
    // repeated (group, item) rows: default weight = instance product
    // (2 a's x 1 b = 2); distinctItems = distinct shared groups (1)
    val dup = Seq((1, "a"), (1, "a"), (1, "b")).toDF("g", "i")
    assert(Corpus.coOccurrenceEdges(dup, col("g"), col("i"))
      .head().getLong(2) == 2L)
    assert(Corpus.coOccurrenceEdges(dup, col("g"), col("i"),
      distinctItems = true).head().getLong(2) == 1L)
  }

  test("benfordReport: string-repr digits, literal expectations, absent digits") {
    val df = Seq(Some(1.5), Some(19.0), Some(0.02), Some(999.0),
      Some(-3.3), Some(0.0), None).toDF("x")
    val got = Corpus.benfordReport(df, col("x")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got.size == 9)
    val p = Corpus.benfordProbs
    // digits: 1.5->1, 19->1, 0.02->2, 999->9, -3.3->3; 0/null drop
    assert(got(1L)._1 == 2 && got(2L)._1 == 1 && got(3L)._1 == 1 &&
      got(9L)._1 == 1, got.toString)
    assert(got(4L)._1 == 0) // absent digit still reported
    assert(got(1L)._2 == 5.0 * p.head)
    val e4 = 5.0 * p(3)
    assert(got(4L)._3 == (0.0 - e4) * (0.0 - e4) / e4)
    assert(got.values.map(_._1).sum == 5L)
  }

  test("herfindahlIndex: single-key 1.0, uniform 1/k, empty zero") {
    val one = Corpus.herfindahlIndex(Seq("a", "a", "a").toDF("k"),
      col("k")).head()
    assert(one.getLong(0) == 1 && one.getLong(1) == 3 &&
      one.getDouble(2) == 1.0)
    val uni = Corpus.herfindahlIndex(
      Seq("a", "a", "b", "b", "c", "c", "d", "d").toDF("k"),
      col("k")).head()
    assert(uni.getLong(0) == 4 && uni.getDouble(2) == 0.25)
    val empty = Corpus.herfindahlIndex(
      Seq.empty[String].toDF("k"), col("k")).head()
    assert(empty.getLong(0) == 0 && empty.getDouble(2) == 0.0)
  }

  test("heavyHittersBy: exact per-key threshold, strict boundary, saturation, null key") {
    // key A: n=100, k=10 -> hitter iff cnt*10 > 100. x(11) passes,
    // y(10) sits EXACTLY on the boundary and must not; 79 singleton
    // items saturate the 9-counter MG summary (work-narrowing only)
    val a = Seq.fill(11)("x") ++ Seq.fill(10)("y") ++
      (1 to 79).map(i => s"s$i")
    val rows = a.map(i => (Some("A"), i)) ++
      Seq.fill(3)((Some("B"), "z")) ++
      Seq.fill(2)((Option.empty[String], "w"))
    val df = rows.toDF("k", "i")
    val got = Corpus.heavyHittersBy(df, col("k"), col("i"), k = 10)
      .collect().map(r => (Option(r.getString(0)), r.getString(1),
        r.getLong(2))).toSet
    assert(got == Set((Some("A"), "x", 11L), (Some("B"), "z", 3L),
      (None, "w", 2L)), got.toString)
    // partitioning cannot change the exact recount
    val rep = Corpus.heavyHittersBy(df.repartition(7), col("k"),
      col("i"), k = 10).collect().map(r => (Option(r.getString(0)),
        r.getString(1), r.getLong(2))).toSet
    assert(rep == got)
  }

  test("transitionMatrix: planted sequences, row probabilities, null-state splice") {
    val ev = Seq(
      ("u1", 1L, Some("A")), ("u1", 2L, Some("B")), ("u1", 3L, Some("A")),
      ("u1", 4L, Some("C")),
      ("u2", 1L, Some("B")), ("u2", 2L, Some("A")),
      ("u3", 1L, Some("A")), ("u3", 2L, None), ("u3", 3L, Some("B")))
      .toDF("u", "t", "s")
    val got = Corpus.transitionMatrix(ev, col("u"), Seq(col("t")), col("s"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // u3's null event splices: A -> B counted across it
    assert(got == Map(
      ("A", "B") -> ((2L, 2.0 / 3.0)), ("A", "C") -> ((1L, 1.0 / 3.0)),
      ("B", "A") -> ((2L, 1.0))), got.toString)
  }

  test("sequenceSurprise: rare transitions score lower, driver reference, singletons drop") {
    // global matrix: from A -> {B: 4/5, C: 1/5}; from B -> {A: 1.0}
    val ev = Seq(
      ("u1", 1L, "A"), ("u1", 2L, "B"), ("u1", 3L, "A"), ("u1", 4L, "B"),
      ("u1", 5L, "A"),
      ("u2", 1L, "A"), ("u2", 2L, "B"), ("u2", 3L, "A"), ("u2", 4L, "B"),
      ("u3", 1L, "A"), ("u3", 2L, "C"),
      ("u4", 1L, "A")).toDF("u", "t", "s")
    val got = Corpus.sequenceSurprise(ev, col("u"), Seq(col("t")),
        col("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains("u4"), got.toString) // no transitions
    def ref(ps: Seq[Double]) = BigDecimal(ps.map(math.log).sum / ps.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("u1") == ((4L, ref(Seq(0.8, 1.0, 0.8, 1.0)))), got.toString)
    assert(got("u2") == ((3L, ref(Seq(0.8, 1.0, 0.8)))))
    assert(got("u3") == ((1L, ref(Seq(0.2)))))
    // the anomalous sequence scores strictly lowest
    assert(got("u3")._2 < got("u2")._2 && got("u2")._2 < got("u1")._2)
  }

  test("sceneCutReport: identical frames read hamming 0, a hard cut flags") {
    import graft.functions.Multimodal
    // chunk=64, stride=2: frames at byte offsets 0/128/256. Payload =
    // block A twice then block B: frames 0,1 identical (no cut),
    // frame 2 is an uncorrelated pattern (cut)
    val a = "x" * 128
    val b = "ab" * 32 + "." * 64
    val df = Seq((7L, a + a + b)).toDF("media_id", "payload")
    val got = Multimodal.sceneCutReport(
        df.select(col("media_id"), encode(col("payload"), "UTF-8").as("content")),
        "media_id", col("content"), chunk = 64, stride = 2, threshold = 8)
      .orderBy("frame_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 2, got.mkString(","))
    assert(got(0) == ((1L, 0L, 0L)), got.mkString(",")) // same shot
    val (idx, ham, cut) = got(1)
    assert(idx == 2L && ham > 8L && cut == 1L, got.mkString(","))
  }

  test("profileDrift: added/dropped/kept statuses, null fractions, distincts") {
    val before = Seq((1L, Some("x")), (2L, None), (2L, Some("y")))
      .toDF("a", "b")
    val after = Seq((1L, Some(1.5)), (3L, None), (3L, None), (4L, Some(2.5)))
      .toDF("a", "c")
    val got = Corpus.profileDrift(before, after, exact = true)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == 3)
    val a = got("a")
    assert(a.getString(1) == "kept" && a.getString(2) == "bigint" &&
      a.getString(3) == "bigint")
    assert(a.getLong(4) == 3 && a.getLong(5) == 4)
    assert(a.getDouble(6) == 0.0 && a.getDouble(7) == 0.0)
    assert(a.getLong(8) == 2 && a.getLong(9) == 3)
    val b = got("b")
    assert(b.getString(1) == "dropped" && b.isNullAt(3) &&
      b.isNullAt(5) && b.isNullAt(7) && b.isNullAt(9))
    assert(b.getDouble(6) == 1.0 / 3.0 && b.getLong(8) == 2)
    val c = got("c")
    assert(c.getString(1) == "added" && c.isNullAt(2) && c.isNullAt(4))
    assert(c.getDouble(7) == 0.5 && c.getLong(9) == 2)
  }

  test("kTruss: hand graphs, driver brute peel equality, converged fixpoint, hygiene") {
    def run(edges: Seq[(String, String)], k: Int, iters: Int,
            parts: Int = 3): Map[(String, String), Long] =
      Corpus.kTruss(edges.toDF("s", "d").repartition(parts),
          col("s"), col("d"), k = k, iters = iters)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // K4 + pendant triangle on (3,4) + pendant edge: k=4 peels the
    // triangle (support 1) and the pendant (0); K4 survives, final
    // support 2 on every edge
    val k4 = for { a <- Seq("1", "2", "3", "4"); b <- Seq("1", "2", "3", "4")
                   if a < b } yield (a, b)
    val g = k4 ++ Seq(("3", "5"), ("4", "5"), ("5", "6"))
    assert(run(g, k = 4, iters = 1) == k4.map(e => e -> 2L).toMap)
    // k=5: round 1 keeps only (3,4) (pre-peel support 3), round 2
    // empties (its recomputed support is 0)
    assert(run(g, k = 5, iters = 2).isEmpty)
    // driver brute-force peel reference on a random graph (node ids
    // generated in string order, matching canonicalEdges)
    val rnd = new scala.util.Random(17)
    val nodes = (1 to 20).map(_.toString)
    val redges = for { a <- nodes; b <- nodes
                       if a < b && rnd.nextDouble() < 0.25 } yield (a, b)
    def support(es: Set[(String, String)]): Map[(String, String), Long] = {
      val nbr = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (n, s) => n -> s.map(_._2).toSet }
      es.map { case (u, v) => (u, v) -> (nbr(u) & nbr(v)).size.toLong }.toMap
    }
    def peel(es0: Set[(String, String)], k: Int, iters: Int) = {
      var es = es0
      for (_ <- 1 to iters) {
        val sp = support(es); es = es.filter(e => sp(e) >= k - 2)
      }
      es
    }
    val es0 = redges.toSet
    for (k <- Seq(3, 4, 5); iters <- Seq(1, 2, 3)) {
      val want = peel(es0, k, iters)
      val wantS = support(want)
      assert(run(redges, k, iters, parts = 7) ==
        want.map(e => e -> wantS(e)).toMap, s"k=$k iters=$iters")
    }
    // converged form: fixpoint equality with a long fixed peel,
    // audit columns, and the fixpoint property support >= k-2
    val conv = Corpus.kTrussConverged(redges.toDF("s", "d"),
        col("s"), col("d"), k = 4, maxIters = 30)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2), r.getBoolean(3), r.getInt(4)))
    val fixWant = peel(es0, 4, 30)
    assert(conv.map(_._1).toSet == fixWant)
    assert(conv.forall(_._3))
    assert(conv.forall(t => support(fixWant)(t._1) == t._2))
    assert(support(fixWant).values.forall(_ >= 2L))
    val convK4 = Corpus.kTrussConverged(k4.toDF("s", "d"),
      col("s"), col("d"), k = 4, maxIters = 10).collect()
    assert(convK4.length == 6 &&
      convK4.forall(r => r.getLong(2) == 2L && r.getBoolean(3)))
    // dup/reversed/self-loop hygiene rides the canonical edge pass
    val noisy = g ++ g.map(_.swap) ++ Seq(("1", "1"))
    assert(run(noisy, k = 4, iters = 1) == run(g, k = 4, iters = 1))
  }

  test("agreementReport: hand kappa, perfect/constant/empty edges, null drops") {
    // cells aa=3 ab=1 ba=2 bb=4: n=10 A=7, rowm (4,6), colm (5,5),
    // S=50 -> po .7, pe .5, kappa (70-50)/(100-50) = .4
    val df = (Seq.fill(3)(("a", "a")) ++ Seq(("a", "b")) ++
      Seq.fill(2)(("b", "a")) ++ Seq.fill(4)(("b", "b"))).toDF("x", "y")
    val r = Corpus.agreementReport(df, col("x"), col("y")).collect()(0)
    assert(r.getLong(0) == 10L && r.getLong(1) == 7L)
    assert(r.getDouble(2) == 0.7 && r.getDouble(3) == 0.5 &&
      r.getDouble(4) == 0.4)
    // NULL on either side drops the row (abstention, not a label)
    val withNull = df.union(Seq(("a", null), (null, "b"))
      .asInstanceOf[Seq[(String, String)]].toDF("x", "y"))
    assert(Corpus.agreementReport(withNull, col("x"), col("y"))
      .collect()(0).getLong(0) == 10L)
    // perfect agreement
    assert(Corpus.agreementReport(
      Seq(("a", "a"), ("b", "b"), ("c", "c")).toDF("x", "y"),
      col("x"), col("y")).collect()(0).getDouble(4) == 1.0)
    // both constant: pe = 1 -> kappa 0 by declared convention
    val rc = Corpus.agreementReport(Seq(("a", "a"), ("a", "a")).toDF("x", "y"),
      col("x"), col("y")).collect()(0)
    assert(rc.getDouble(2) == 1.0 && rc.getDouble(4) == 0.0)
    // empty input: one zero row
    val re = Corpus.agreementReport(Seq.empty[(String, String)].toDF("x", "y"),
      col("x"), col("y")).collect()(0)
    assert(re.getLong(0) == 0L && re.getDouble(2) == 0.0 &&
      re.getDouble(4) == 0.0)
  }

  test("kAnonymityReport: hand counts, k boundary, NULL QI groups, empty") {
    val df = (Seq.fill(3)(("us", "A")) ++ Seq.fill(2)(("de", "B")) ++
      Seq(("fr", "C")) ++ Seq.fill(2)((null: String, "A"))).toDF("c", "s")
    // groups 3,2,1,2 (the NULL-country pair is a REAL group)
    val r = Corpus.kAnonymityReport(df, Seq(col("c"), col("s")), k = 3)
      .collect()(0)
    assert(r.getInt(0) == 3 && r.getLong(1) == 8L && r.getLong(2) == 4L &&
      r.getLong(3) == 1L)
    assert(r.getLong(4) == 5L && r.getLong(5) == 3L &&
      r.getDouble(6) == 5.0 / 8.0)
    // a group of exactly k is NOT below k
    val r2 = Corpus.kAnonymityReport(df, Seq(col("c"), col("s")), k = 2)
      .collect()(0)
    assert(r2.getLong(4) == 1L && r2.getLong(5) == 1L)
    // empty input: one zero row
    val re = Corpus.kAnonymityReport(
      Seq.empty[(String, String)].toDF("c", "s"), Seq(col("c")), k = 5)
      .collect()(0)
    assert(re.getLong(1) == 0L && re.getLong(2) == 0L &&
      re.getDouble(6) == 0.0)
  }

  test("lDiversityReport: homogeneous groups flagged, NULL sensitive ignored, boundary") {
    // group us: 3 rows, 2 distinct sensitive; de: 2 rows both 'x'
    // (homogeneous); fr: 2 rows, sensitive NULL + 'y' -> 1 distinct
    val df = Seq(
      ("us", "a"), ("us", "a"), ("us", "b"),
      ("de", "x"), ("de", "x"),
      ("fr", null: String), ("fr", "y")).toDF("c", "s")
    val r = Corpus.lDiversityReport(df, Seq(col("c")), col("s"), l = 2)
      .collect()(0)
    assert(r.getInt(0) == 2 && r.getLong(1) == 7L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 1L) // min distinct (de and fr both 1)
    assert(r.getLong(4) == 4L && r.getLong(5) == 2L) // de + fr below
    assert(r.getDouble(6) == 4.0 / 7.0)
    // a group with exactly l distinct is NOT below; all-NULL group
    // scores 0 distinct
    val ok = Corpus.lDiversityReport(df.where(col("c") === "us"),
      Seq(col("c")), col("s"), l = 2).collect()(0)
    assert(ok.getLong(5) == 0L && ok.getDouble(6) == 0.0)
    val allNull = Seq(("g", null: String), ("g", null: String))
      .toDF("c", "s")
    val rn = Corpus.lDiversityReport(allNull, Seq(col("c")), col("s"), l = 2)
      .collect()(0)
    assert(rn.getLong(3) == 0L && rn.getLong(4) == 2L)
    // empty input
    val remp = Corpus.lDiversityReport(
      Seq.empty[(String, String)].toDF("c", "s"), Seq(col("c")), col("s"), 2)
      .collect()(0)
    assert(remp.getLong(1) == 0L && remp.getDouble(6) == 0.0)
  }

  test("autocorrelation: brute reference, gap, constant, unkeyed, invariance") {
    val rnd = new scala.util.Random(29)
    // keyed series; key b has a GAP at t=17 (lag pairs through it drop)
    val rows = for { k <- Seq("a", "b"); t <- 0 until 40
                     if !(k == "b" && t == 17) }
      yield (k, t.toLong, rnd.nextInt(100).toLong)
    def brute(xs: Seq[(Long, Long)], maxLag: Int): Map[Long, (Long, Double)] = {
      val n = xs.size; val sx = xs.map(_._2).sum
      val d = xs.map { case (t, x) => t -> (BigInt(x) * n - sx) }.toMap
      val den = d.values.map(v => v * v).sum
      (1 to maxLag).flatMap { lag =>
        val prods = d.keys.toSeq.filter(t => d.contains(t + lag))
          .map(t => d(t) * d(t + lag))
        if (prods.isEmpty) None
        else Some(lag.toLong -> ((prods.size.toLong,
          if (den == 0) 0.0 else prods.sum.toDouble / den.toDouble)))
      }.toMap
    }
    for (parts <- Seq(1, 6)) {
      val got = Corpus.autocorrelation(
          rows.toDF("k", "t", "x").repartition(parts),
          col("t"), col("x"), maxLag = 5, keys = Seq(col("k")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      for (k <- Seq("a", "b")) {
        val want = brute(rows.filter(_._1 == k).map(t => (t._2, t._3)), 5)
        val gotK = got.collect { case ((kk, lag), v) if kk == k => lag -> v }
        assert(gotK.toMap == want, s"key=$k parts=$parts")
      }
    }
    // the gap is real: key b lag-1 pair count is 37 (39 points,
    // two consecutive pairs severed at t=17), key a is 39
    val gotPairs = Corpus.autocorrelation(rows.toDF("k", "t", "x"),
        col("t"), col("x"), maxLag = 1, keys = Seq(col("k")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotPairs == Map("a" -> 39L, "b" -> 37L))
    // constant series: den 0 -> acf 0.0 at every lag
    val const = (0 until 10).map(t => ("c", t.toLong, 7L))
    val rc = Corpus.autocorrelation(const.toDF("k", "t", "x"),
        col("t"), col("x"), maxLag = 3, keys = Seq(col("k")))
      .collect().map(r => r.getDouble(3))
    assert(rc.length == 3 && rc.forall(_ == 0.0))
    // unkeyed global form
    val seriesA = rows.filter(_._1 == "a").map(t => (t._2, t._3))
    val gotG = Corpus.autocorrelation(seriesA.toDF("t", "x"),
        col("t"), col("x"), maxLag = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(gotG == brute(seriesA, 4))
    // NULL key / t / x rows drop
    val noisy = rows.toDF("k", "t", "x").union(
      Seq((null: String, 0L, 5L), ("a", 0L, 5L), ("b", 1L, 1L))
        .toDF("k", "t", "x")
        .select(col("k"),
          when(col("t") === 0L && col("k") === "a", lit(null)).otherwise(col("t")).as("t"),
          when(col("k") === "b", lit(null)).otherwise(col("x")).as("x")))
    val gotN = Corpus.autocorrelation(noisy, col("t"), col("x"),
        maxLag = 5, keys = Seq(col("k")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    for (k <- Seq("a", "b")) {
      val want = brute(rows.filter(_._1 == k).map(t => (t._2, t._3)), 5)
      assert(gotN.collect { case ((kk, lag), v) if kk == k => lag -> v }
        .toMap == want, s"noisy key=$k")
    }
  }

  test("sequenceTrigrams: hand sequences, null splice, minSupport, invariance") {
    def df(rows: Seq[(String, Long, String)]) = rows.toDF("k", "o", "s")
    def run(rows: Seq[(String, Long, String)], minSup: Long = 1L,
            parts: Int = 3): Map[(String, String, String), Long] =
      Corpus.sequenceTrigrams(df(rows).repartition(parts),
          col("k"), Seq(col("o")), col("s"), minSupport = minSup)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          r.getLong(3)).toMap
    // [a,b,c,a,b] -> (a,b,c), (b,c,a), (c,a,b)
    val u1 = Seq("a", "b", "c", "a", "b").zipWithIndex
      .map { case (s, i) => ("u1", i.toLong, s) }
    assert(run(u1) == Map(("a", "b", "c") -> 1L, ("b", "c", "a") -> 1L,
      ("c", "a", "b") -> 1L))
    // two users accumulate support; minSupport filters
    val u2 = Seq("a", "b", "c").zipWithIndex
      .map { case (s, i) => ("u2", i.toLong, s) }
    assert(run(u1 ++ u2).apply(("a", "b", "c")) == 2L)
    assert(run(u1 ++ u2, minSup = 2L) == Map(("a", "b", "c") -> 2L))
    // NULL state splices (dropped BEFORE the lag): [a, null, b, c]
    // yields trigram (a, b, c)
    val spliced = Seq(("u", 0L, "a"), ("u", 1L, null: String),
      ("u", 2L, "b"), ("u", 3L, "c"))
    assert(run(spliced) == Map(("a", "b", "c") -> 1L))
    // sequences shorter than 3 emit nothing; partition invariance
    assert(run(u2.take(2)).isEmpty)
    assert(run(u1 ++ u2, parts = 7) == run(u1 ++ u2, parts = 1))
  }

  test("mannKendallTrend: monotone/constant/tie cases, brute reference, unkeyed") {
    def run(rows: Seq[(String, Long, Long)],
            parts: Int = 3): Map[String, (Long, Long, Double)] =
      Corpus.mannKendallTrend(rows.toDF("k", "t", "x").repartition(parts),
          col("t"), col("x"), keys = Seq(col("k")))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val inc = (0 until 10).map(i => ("inc", i.toLong, i.toLong * 2))
    val dec = (0 until 10).map(i => ("dec", i.toLong, 100L - i))
    val const = (0 until 10).map(i => ("const", i.toLong, 7L))
    val single = Seq(("one", 0L, 5L))
    val got = run(inc ++ dec ++ const ++ single)
    assert(got("inc") == ((10L, 45L, 1.0)))
    assert(got("dec") == ((10L, -45L, -1.0)))
    assert(got("const") == ((10L, 0L, 0.0)))
    assert(got("one") == ((1L, 0L, 0.0)))
    // ties contribute 0 (tau-a): [1, 1, 2] -> pairs (=,<,<) -> S=2,
    // tau = 2/3
    val tied = Seq(("t", 0L, 1L), ("t", 1L, 1L), ("t", 2L, 2L))
    assert(run(tied)("t") == ((3L, 2L, 2.0 / 3.0)))
    // brute reference on a random keyed series + partition invariance
    val rnd = new scala.util.Random(31)
    val rand = for { k <- Seq("a", "b"); t <- 0 until 25 }
      yield (k, t.toLong, rnd.nextInt(10).toLong)
    def brute(xs: Seq[Long]): (Long, Double) = {
      val s = (for { i <- xs.indices; j <- xs.indices if i < j }
        yield java.lang.Long.compare(xs(j), xs(i)).sign.toLong).sum
      (s, s.toDouble / (xs.size.toLong * (xs.size - 1) / 2).toDouble)
    }
    for (parts <- Seq(1, 6)) {
      val g = run(rand, parts)
      for (k <- Seq("a", "b")) {
        val xs = rand.filter(_._1 == k).sortBy(_._2).map(_._3)
        val (s, tau) = brute(xs)
        assert(g(k) == ((25L, s, tau)), s"key=$k parts=$parts")
      }
    }
    // unkeyed global form
    val xsA = rand.filter(_._1 == "a").map(t => (t._2, t._3))
    val (sG, tauG) = brute(xsA.sortBy(_._1).map(_._2))
    val rg = Corpus.mannKendallTrend(xsA.toDF("t", "x"), col("t"), col("x"))
      .collect()(0)
    assert((rg.getLong(0), rg.getLong(1), rg.getDouble(2)) == ((25L, sG, tauG)))
  }

  test("rollingDistinctCount: hand windows, within-day dedup, keys, window=1, invariance") {
    def run(rows: Seq[(Long, String)], w: Int,
            parts: Int = 3): Map[Long, Long] =
      Corpus.rollingDistinctCount(rows.toDF("d", "u").repartition(parts),
          col("d"), col("u"), window = w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // days 1:{a}, 2:{b,a}, 4:{c}; window 3 -> the DuckDB prototype case:
    // gap day 3 emitted from trailing contributions, partial window at 1
    val rows = Seq((1L, "a"), (2L, "b"), (2L, "a"), (4L, "c"))
    assert(run(rows, w = 3) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L))
    // duplicate (day, id) rows never double-count; window caps at max day
    assert(run(rows ++ rows, w = 3) == run(rows, w = 3))
    // window=1 is per-day distinct (gap day emits nothing)
    assert(run(rows, w = 1) == Map(1L -> 1L, 2L -> 2L, 4L -> 1L))
    // an id active on several days counts once per window
    assert(run(Seq((1L, "a"), (2L, "a"), (3L, "a")), w = 3) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // keyed form: keys independent, each capped at its OWN max day
    val keyed = Seq(("s1", 1L, "a"), ("s1", 2L, "b"), ("s2", 1L, "a"))
    val gotK = Corpus.rollingDistinctCount(keyed.toDF("k", "d", "u"),
        col("d"), col("u"), window = 2, keys = Seq(col("k")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotK == Map(("s1", 1L) -> 1L, ("s1", 2L) -> 2L, ("s2", 1L) -> 1L))
    // invariance + null drops
    assert(run(rows, w = 3, parts = 7) == run(rows, w = 3, parts = 1))
    val withNull = rows.toDF("d", "u").union(
      Seq((9L, "x")).toDF("d", "u").select(col("d"), lit(null).cast("string").as("u")))
    assert(Corpus.rollingDistinctCount(withNull, col("d"), col("u"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == run(rows, 3))
  }

  test("holtLinearByKey: hand fold, short series, driver reference, invariance") {
    def run(rows: Seq[(String, Long, Double)],
            parts: Int = 3): Map[String, (Long, Double, Double, Double)] =
      Corpus.holtLinearByKey(rows.toDF("k", "o", "x").repartition(parts),
          Seq(col("k")), col("x"), Seq(col("o")))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    // hand fold (the DuckDB prototype case): [3,5,4,8] ->
    // (5,2) -> (5.5,1.25) -> (7.375,1.5625)
    val h = Seq("h" -> 3.0, "h" -> 5.0, "h" -> 4.0, "h" -> 8.0)
      .zipWithIndex.map { case ((k, x), i) => (k, i.toLong, x) }
    assert(run(h)("h") == ((4L, 7.375, 1.5625, 8.9375)))
    // n=1: level = x, trend 0; n=2: level = x2, trend = x2-x1
    assert(run(Seq(("a", 0L, 5.0)))("a") == ((1L, 5.0, 0.0, 5.0)))
    assert(run(Seq(("b", 0L, 3.0), ("b", 1L, 7.0)))("b") ==
      ((2L, 7.0, 4.0, 11.0)))
    // driver fold reference (identical op order -> bit-equal doubles)
    val rnd = new scala.util.Random(37)
    val series = (0 until 30).map(i => ("r", i.toLong, rnd.nextInt(50).toDouble))
    def ref(xs: Seq[Double]): (Double, Double) = {
      var l = xs.head; var b = Double.NaN; var first = true
      for (x <- xs.tail) {
        if (first) { b = x - l; l = x; first = false }
        else {
          val nl = (x + (l + b)) / 2.0
          val nb = ((nl - l) + b) / 2.0
          l = nl; b = nb
        }
      }
      (l, if (first) 0.0 else b)
    }
    val (rl, rb) = ref(series.map(_._3))
    for (parts <- Seq(1, 6)) {
      val got = run(series, parts)("r")
      assert(got == ((30L, rl, rb, rl + rb)), s"parts=$parts")
    }
    // NULL values drop
    val withNull = series.toDF("k", "o", "x").union(
      Seq(("r", 99L, 0.0)).toDF("k", "o", "x")
        .select(col("k"), col("o"), lit(null).cast("double").as("x")))
    assert(Corpus.holtLinearByKey(withNull, Seq(col("k")), col("x"),
        Seq(col("o"))).collect()(0).getDouble(2) == rl)
  }

  test("giniIndex: closed forms, brute reference, chunk invariance, empty") {
    def mk(counts: Seq[Int]): org.apache.spark.sql.DataFrame =
      counts.zipWithIndex
        .flatMap { case (c, k) => Seq.fill(c)(s"k$k") }
        .toDF("key")
    def run(counts: Seq[Int], chunks: Int = 256): (Long, Long, Double) = {
      val r = Corpus.giniIndex(mk(counts).repartition(4), col("key"),
        chunks = chunks).collect()(0)
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    // perfectly equal -> 0; single key -> 0
    assert(run(Seq(4, 4, 4, 4)) == ((4L, 16L, 0.0)))
    assert(run(Seq(7)) == ((1L, 7L, 0.0)))
    // hand case [1, 3]: R = 1 + 6 = 7, G = (14 - 12)/8 = 0.25
    assert(run(Seq(1, 3)) == ((2L, 4L, 0.25)))
    // brute reference (BigInt, same exact operands -> identical double)
    val rnd = new scala.util.Random(43)
    val counts = Seq.fill(60)(1 + rnd.nextInt(40))
    def brute(cs: Seq[Int]): Double = {
      val sorted = cs.sorted.map(BigInt(_))
      val n = BigInt(cs.size)
      val s = sorted.sum
      val r = sorted.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
      ((2 * r - (n + 1) * s).toDouble / (n * s).toDouble)
    }
    val want = brute(counts)
    assert(run(counts)._3 == want)
    // chunk-count invariance (1 chunk = one plain window; 7 = ragged)
    assert(run(counts, chunks = 1)._3 == want)
    assert(run(counts, chunks = 7)._3 == want)
    // empty input -> one zero row
    assert(run(Seq.empty) == ((0L, 0L, 0.0)))
  }

  test("coreDecomposition: h-index iteration converges to true coreness on planted graphs; monotone") {
    import graft.functions.Corpus
    def run(edges: Seq[(String, String)], iters: Int): Map[String, Long] =
      Corpus.coreDecomposition(edges.toDF("s", "d"), col("s"), col("d"),
          iters = iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4 + pendant: K4 nodes coreness 3, pendant 1 — converged by 2
    val k4p = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("a", "p"))
    assert(run(k4p, 2) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "p" -> 1L))
    // path: all coreness 1 after one round
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "d")), 1)
      == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L))
    // deterministic random graph: iterate-to-8 equals the brute peel
    val rnd = new scala.util.Random(19)
    val nodes = (0 until 24).map(i => f"n$i%02d")
    val redges = (for (i <- nodes.indices; j <- i + 1 until nodes.size
                       if rnd.nextDouble() < 0.22)
      yield (nodes(i), nodes(j))).toSeq
    def bruteCoreness(es: Seq[(String, String)]): Map[String, Long] = {
      var alive = es.flatMap(e => Seq(e._1, e._2)).toSet
      var cur = es
      val core = scala.collection.mutable.Map[String, Long]()
      var k = 1L
      while (alive.nonEmpty) {
        var changed = true
        while (changed) {
          val deg = cur.flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).map { case (n, g) => n -> g.size }
          val drop = alive.filter(n => deg.getOrElse(n, 0) < k)
          if (drop.isEmpty) changed = false
          else {
            drop.foreach(n => core(n) = k - 1)
            alive = alive -- drop
            cur = cur.filter(e => alive(e._1) && alive(e._2))
          }
        }
        k += 1
      }
      core.toMap
    }
    val want = bruteCoreness(redges)
    assert(run(redges, 8) == want)
    // monotone non-increasing per node between iteration budgets
    val c2 = run(redges, 2); val c4 = run(redges, 4)
    assert(c4.forall { case (n, c) => c <= c2(n) })
  }

  test("theilSenSlope: hand median of pairwise slopes; outlier robustness; keyed; degenerates") {
    import graft.functions.Corpus
    def run(rows: Seq[(String, Long, Double)]): Map[String, (Long, Double)] =
      Corpus.theilSenSlope(rows.toDF("k", "t", "x"), col("t"), col("x"),
          Seq(col("k")))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
    // slopes of (1,1)(2,3)(3,2): [2, 0.5, -1] -> rank ceil(1.5)=2 of
    // ascending sort -> 0.5
    val a = run(Seq(("A", 1L, 1.0), ("A", 2L, 3.0), ("A", 3L, 2.0)))
    assert(a("A") == ((3L, 0.5)))
    // perfect line y=2t survives a wild outlier (robustness): 5 points
    // on the line + 1 outlier -> 15 pairs, >= 10 have slope exactly 2,
    // median selection rank 8 lands on 2.0
    val line = (1L to 5L).map(t => ("B", t, 2.0 * t)) :+ (("B", 6L, 1000.0))
    assert(run(line)("B")._2 == 2.0)
    // single point -> no pair -> absent; NULL x drops
    val c = run(Seq(("C", 1L, 5.0)))
    assert(!c.contains("C"))
    // keys independent
    val two = run(Seq(("A", 1L, 0.0), ("A", 2L, 1.0),
      ("B", 1L, 0.0), ("B", 2L, 3.0)))
    assert(two("A") == ((1L, 1.0)) && two("B") == ((1L, 3.0)))
  }

  test("classificationReport: hand-computed per-class PRF; margins full-outer; NULL drop") {
    import graft.functions.Corpus
    val rows = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),       // a: tp=2, fn=1
      ("b", "a"), ("b", "b"),                   // b: tp=1, fp to a
      ("c", "a"),                               // c: never predicted
      (null, "a"), ("a", null))                 // dropped
      .toDF("y", "yhat")
    val got = Corpus.classificationReport(rows, col("y"), col("yhat"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // a: na=3, np=4, tp=2 -> p=0.5, r=2/3, f1=2*.5*(2/3)/(.5+2/3)
    val (pa, ra) = (0.5, 2.0 / 3)
    assert(got("a") == ((3L, 4L, 2L, pa, ra, 2.0 * pa * ra / (pa + ra))))
    // b: na=2, np=2, tp=1 -> p=r=f1=0.5
    assert(got("b") == ((2L, 2L, 1L, 0.5, 0.5, 0.5)))
    // c: never predicted -> np=0, precision 0 (zero_division), f1 0
    assert(got("c") == ((1L, 0L, 0L, 0.0, 0.0, 0.0)))
    assert(got.size == 3)
    // predicted-only class keeps a row (recall 0 by convention)
    val rows2 = Seq(("x", "z")).toDF("y", "yhat")
    val g2 = Corpus.classificationReport(rows2, col("y"), col("yhat"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap
    assert(g2("z") == ((0L, 1L, 0.0, 0.0)) && g2("x") == ((1L, 0L, 0.0, 0.0)))
    // summary roll-up: accuracy = sum tp / n; macros = label-ordered
    // unweighted means over the same three classes
    val sm = Corpus.classificationSummary(rows, col("y"), col("yhat"))
      .head()
    assert(sm.getLong(0) == 6L && sm.getLong(1) == 3L)
    assert(sm.getDouble(2) == 3.0 / 6)
    val f1a = 2.0 * pa * ra / (pa + ra)
    assert(math.abs(sm.getDouble(3) - (pa + 0.5 + 0.0) / 3) < 1e-15)
    assert(math.abs(sm.getDouble(4) - (ra + 0.5 + 0.0) / 3) < 1e-15)
    assert(math.abs(sm.getDouble(5) - (f1a + 0.5 + 0.0) / 3) < 1e-15)
    // empty input -> one all-zero row
    val esm = Corpus.classificationSummary(
      rows.where(lit(false)), col("y"), col("yhat")).head()
    assert(esm.getLong(0) == 0L && esm.getLong(1) == 0L
      && esm.getDouble(2) == 0.0 && esm.getDouble(5) == 0.0)
  }

  test("betweennessCentrality: brute Brandes replica on planted graphs; truncation; split paths") {
    import graft.functions.Corpus
    // driver reference: truncated Brandes from the given seeds
    def brute(edges: Seq[(String, String)], seeds: Seq[String],
              depth: Int): Map[String, Double] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
      val bc = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(0.0)
      for (s <- seeds.sorted if adj.contains(s)) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sig = scala.collection.mutable.Map(s -> BigInt(1))
        var frontier = Set(s)
        var d = 0
        while (d < depth && frontier.nonEmpty) {
          val nxt = scala.collection.mutable.Map[String, BigInt]()
          for (v <- frontier; u <- adj(v) if !dist.contains(u))
            nxt(u) = nxt.getOrElse(u, BigInt(0)) + sig(v)
          nxt.foreach { case (u, sg) => dist(u) = d + 1; sig(u) = sg }
          frontier = nxt.keySet.toSet
          d += 1
        }
        val delta = scala.collection.mutable.Map[String, Double]()
          .withDefaultValue(0.0)
        val maxd = if (dist.isEmpty) 0 else dist.values.max
        for (lv <- (maxd - 1) to 0 by -1;
             v <- dist.filter(_._2 == lv).keys) {
          val succs = adj(v).filter(u => dist.get(u).contains(lv + 1))
            .toSeq.sorted
          delta(v) = succs.foldLeft(0.0)((acc, u) =>
            acc + (sig(v).toDouble / sig(u).toDouble) * (1.0 + delta(u)))
        }
        for (v <- dist.keys if v != s) bc(v) = bc(v) + delta(v)
      }
      dist2map(bc, seeds, adj, depth)
    }
    // reachable-node domain: only nodes some seed reached appear
    def dist2map(bc: scala.collection.mutable.Map[String, Double],
                 seeds: Seq[String],
                 adj: Map[String, Set[String]],
                 depth: Int): Map[String, Double] = {
      val reached = scala.collection.mutable.Set[String]()
      for (s <- seeds if adj.contains(s)) {
        var f = Set(s); reached += s
        for (_ <- 1 to depth) {
          f = f.flatMap(adj).diff(reached.toSet); reached ++= f
        }
      }
      reached.map(v => v -> bc(v)).toMap
    }
    def run(edges: Seq[(String, String)], seeds: Seq[String],
            depth: Int): Map[String, Double] =
      Corpus.betweennessCentrality(edges.toDF("s", "d"), col("s"), col("d"),
          seeds.toDF("n"), depth = depth)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // path graph, all seeds, full depth: interior nodes carry the load
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val gotP = run(path, Seq("a", "b", "c", "d", "e"), 4)
    val wantP = brute(path, Seq("a", "b", "c", "d", "e"), 4)
    assert(gotP == wantP, s"got=$gotP want=$wantP")
    assert(gotP("c") == 8.0 && gotP("b") == 6.0 && gotP("a") == 0.0)
    // star: hub carries every leaf pair (ordered) = 4*3
    val star = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"))
    val gotS = run(star, Seq("h", "x1", "x2", "x3", "x4"), 2)
    assert(gotS == brute(star, Seq("h", "x1", "x2", "x3", "x4"), 2))
    assert(gotS("h") == 12.0 && gotS("x1") == 0.0)
    // depth truncation: seed a, depth 2 on the path — d, e invisible
    val gotT = run(path, Seq("a"), 2)
    assert(gotT == Map("a" -> 0.0, "b" -> 1.0, "c" -> 0.0))
    // split shortest paths: diamond a-b-d / a-c-d, seed a
    val diamond = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
    val gotD = run(diamond, Seq("a"), 2)
    assert(gotD == Map("a" -> 0.0, "b" -> 0.5, "c" -> 0.5, "d" -> 0.0))
  }

  test("forecastEvalReport: hand-computed MAE/sMAPE/MASE; degenerate guards") {
    import graft.functions.Corpus
    // key A: train t=1..8 (values 10,12,14,16,10,12,14,16 — period-4
    // seasonal), holdout t=9,10 actual (10,12), forecasts (11, 15)
    val actuals = (Seq((1L, 10.0), (2L, 12.0), (3L, 14.0), (4L, 16.0),
        (5L, 10.0), (6L, 12.0), (7L, 14.0), (8L, 16.0),
        (9L, 10.0), (10L, 12.0)).map { case (t, y) => ("A", t, y) } ++
      // key B: constant train -> sn_mae = 0 -> mase NULL; perfect
      // zero forecast at a zero actual -> smape both-zero term = 0
      Seq(("B", 1L, 5.0), ("B", 2L, 5.0), ("B", 3L, 5.0), ("B", 4L, 5.0),
        ("B", 5L, 5.0), ("B", 6L, 0.0)) ++
      // key C: train too short for lag 4 -> no lag pair -> mase NULL
      Seq(("C", 1L, 3.0), ("C", 2L, 7.0)))
      .toDF("k", "t", "y")
    val fcs = Seq(("A", 9L, 11.0), ("A", 10L, 15.0),
      ("B", 6L, 0.0), ("C", 2L, 7.0)).toDF("k", "t", "p")
    val got = Corpus.forecastEvalReport(actuals, fcs, Seq("k"), "t", "y",
        "p", period = 4)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getLong(1) == 8L && a.getLong(2) == 2L)
    // mae = (|11-10| + |15-12|)/2 = 2.0
    assert(a.getDouble(3) == 2.0)
    // smape = (2*1/21 + 2*3/27)/2
    assert(math.abs(a.getDouble(4) - (2.0 / 21 + 6.0 / 27) / 2) < 1e-15)
    // sn_mae over lag-4 train pairs t=5..8: all |diff| = 0 -> 0.0 ->
    // mase NULL (perfectly periodic train, undefined not invented)
    assert(a.getDouble(5) == 0.0 && a.isNullAt(6))
    val b = got("B")
    // both-zero holdout point: smape term 0, mae 0; constant train ->
    // sn_mae 0 -> mase NULL
    assert(b.getLong(1) == 5L && b.getLong(2) == 1L)
    assert(b.getDouble(3) == 0.0 && b.getDouble(4) == 0.0)
    assert(b.getDouble(5) == 0.0 && b.isNullAt(6))
    val cc = got("C")
    // no lag pair at all -> sn_mae NULL, mase NULL; n_train counts
    // rows before the first forecast time
    assert(cc.getLong(1) == 1L && cc.getLong(2) == 1L)
    assert(cc.getDouble(3) == 0.0 && cc.isNullAt(5) && cc.isNullAt(6))
    // key with forecasts matching no actual rows -> absent
    val fcs2 = Seq(("Z", 9L, 1.0)).toDF("k", "t", "p")
    assert(Corpus.forecastEvalReport(actuals, fcs2, Seq("k"), "t", "y",
      "p", period = 4).count() == 0L)
  }

  test("corpus no-VT gate: the \\s-vs-RE2 oracle pairing's standing assumption") {
    // ~15 oracles replay TextFunctions.tokens (Java \s+) with DuckDB
    // \s+ (RE2); Java's \s includes U+000B, RE2's does not. That
    // pairing is sound ONLY while the corpus carries no vertical tab —
    // assert it, so a testdata regeneration that introduces VT fails
    // loudly here instead of as a silent oracle hash divergence
    // (r14 advice item; tokens() Scaladoc documents the contract).
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val vt = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .where(col("text").contains("\u000B")).count()
      assert(vt == 0L, s"$sf documents contain U+000B — the \\s oracle pairing is no longer sound")
    }
  }
}
