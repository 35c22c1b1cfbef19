package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines — source
  * mixing, deterministic splits, and sketch aggregates. No reference
  * analog (datasplash has none); all narrow/columnar, designed for the
  * 100 TB path (sampling and hashing are map-side, sketches are
  * mergeable partial aggregates).
  */
object Corpus {

  /** Weighted mixture of sources: sample each source at its weight and
    * union — the standard corpus-mixing step (e.g. 3 parts web, 1 part
    * code). Weights are independent Bernoulli rates in [0, 1]; rows are
    * never duplicated (use `unionAll` of self-unions for >1 rates).
    * Deterministic per seed; entirely map-side (no shuffle). */
  def mixByWeights(sources: Seq[(DataFrame, Double)], seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    sources.zipWithIndex.map { case ((df, w), i) =>
      require(w >= 0 && w <= 1, s"weight $w outside [0,1]")
      df.sample(withReplacement = false, w, seed + i)
    }.reduce(_ unionByName _)
  }

  /** Deterministic train/holdout split on a stable id hash: a row
    * lands in holdout iff `xxhash64(id, seed) mod denom < numer`.
    * Hash-based (not `rand()`) so the split survives retries,
    * repartitioning, and incremental reruns — the property a training
    * pipeline actually needs. Returns (train, holdout). Map-side. */
  def splitByHash(df: DataFrame, id: Column, holdoutNumer: Int,
                  holdoutDenom: Int, seed: Long = 42L): (DataFrame, DataFrame) = {
    require(holdoutNumer >= 0 && holdoutNumer <= holdoutDenom && holdoutDenom > 0)
    val bucket = pmod(xxhash64(id, lit(seed)), lit(holdoutDenom))
    (df.where(bucket >= holdoutNumer), df.where(bucket < holdoutNumer))
  }

  /** Deterministic twin of [[mixByWeights]]: each (df, id, weight)
    * source keeps a row iff the 60-bit md5 value of (id ‖ per-source
    * seed) falls below floor(weight · 2^60) — an exact integer
    * threshold, so there is no float rounding at the keep boundary and
    * an oracle engine computes the identical draw. Unlike `df.sample`
    * (whose seeded Bernoulli draw depends on physical partitioning),
    * this is repartition/retry-invariant: the training-pipeline
    * contract. Map-side, no shuffle. Prefer weights that are exact
    * binary fractions (0.25, 0.75, …) when differential-testing, so
    * the threshold literal is unambiguous across languages. */
  def mixByWeightsByHash(sources: Seq[(DataFrame, Column, Double)],
                         seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    sources.zipWithIndex.map { case ((df, id, w), i) =>
      require(w >= 0 && w <= 1, s"weight $w outside [0,1]")
      df.where(md5Bucket(id, seed + i) < lit(weightThreshold(w)))
    }.reduce(_ unionByName _)
  }

  /** Weighted mixture with UPSAMPLING — `mixByWeightsByHash` restricted
    * rates to [0, 1]; real mixture recipes repeat high-quality sources
    * (2-5 epochs of a small curated set against 1 of web text). Each
    * (df, id, weight >= 0) source contributes floor(weight) full copies
    * plus a frac(weight) hash-drawn subset (same exact 60-bit md5
    * threshold as [[mixByWeightsByHash]] — repartition/retry-invariant
    * and oracle-computable). A `copy` column (0-based) distinguishes
    * repeats so downstream ids stay unique as (id, copy). Map-side:
    * the repeats are plan-level unions of the same scan, no shuffle.
    * Order the fractional draw LAST (copy = floor(weight)) so raising
    * a weight only ADDS rows — incremental remixes stay supersets. */
  def mixByWeightsUpsampled(sources: Seq[(DataFrame, Column, Double)],
                            seed: Long = 42L): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    sources.zipWithIndex.map { case ((df, id, w), i) =>
      require(w >= 0, s"weight $w must be >= 0")
      // withColumn would silently REPLACE a pre-existing copy column
      // (losing data and breaking the (id, copy) uniqueness contract)
      require(!df.columns.contains("copy"),
        "source already has a 'copy' column — rename it before mixing")
      val full = math.floor(w).toInt
      val frac = w - full
      val parts =
        (0 until full).map(c => df.withColumn("copy", lit(c.toLong))) ++
          (if (frac > 0)
            Seq(df.where(md5Bucket(id, seed + i) < lit(weightThreshold(frac)))
              .withColumn("copy", lit(full.toLong)))
          else Nil)
      parts.reduceOption(_ unionByName _)
        .getOrElse(df.limit(0).withColumn("copy", lit(0L)))
    }.reduce(_ unionByName _)
  }

  /** Temperature-scaled source balancing — the multilingual-corpus
    * recipe (sample source s with probability ∝ n_s^alpha): each
    * source keeps rate (n_min/n_s)^(1-alpha), so the SMALLEST source
    * survives whole and larger sources downsample toward balance.
    * alpha = 1 reproduces natural proportions (no-op); alpha = 0
    * equalizes expected counts; published pipelines sit in between
    * (0.3–0.7). The draw is the same exact 60-bit md5 threshold as
    * [[mixByWeightsByHash]] — repartition/retry-invariant. Source
    * counts are one narrow aggregate collected to the driver (source
    * cardinality is small by contract — languages/crawl buckets);
    * thresholds fold back as a literal map, the filter is map-side.
    * Cross-engine oracle parity is exact at alpha = 0.5 (the chain is
    * sqrt/divide/multiply-by-2^60/trunc — all correctly rounded IEEE
    * ops); other alphas go through `pow`, which may differ by 1 ulp
    * across libms, so differential tests pin alpha = 0.5. */
  def mixByTemperature(df: DataFrame, source: String, id: Column,
                       alpha: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha $alpha outside [0,1]")
    val counts = df.groupBy(col(source)).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    require(counts.nonEmpty, "empty input — no sources to balance")
    require(counts.forall(_._1 != null),
      s"null $source values — a null key cannot enter the threshold map; " +
        "fill or filter nulls before balancing")
    val nMin = counts.map(_._2).min.toDouble
    val thr = counts.flatMap { case (s, n) =>
      val rate =
        if (alpha == 0.5) math.sqrt(nMin / n.toDouble)
        else math.pow(nMin / n.toDouble, 1.0 - alpha)
      Seq(lit(s), lit(weightThreshold(rate)))
    }
    df.where(md5Bucket(id, seed) < element_at(map(thr.toIndexedSeq: _*), col(source)))
  }

  /** floor(w · 2^60): the exact keep-threshold for a 60-bit hash draw. */
  def weightThreshold(w: Double): Long = (w * (1L << 60).toDouble).toLong

  /** First 15 hex chars (60 bits) of md5(id ‖ seed) as a bigint — the
    * [[graft.operators.Grouping.sampleByHash]] md5 trick as a uniform
    * integer draw. An oracle computes the identical value:
    * `('0x' || substr(md5(id::VARCHAR || seed), 1, 15))::BIGINT`. */
  private def md5Bucket(id: Column, seed: Long): Column =
    conv(substring(md5(concat(id.cast("string"), lit(seed.toString))), 1, 15),
      16, 10).cast("long")

  /** Deterministic train/holdout split twin of [[splitByHash]] with an
    * oracle-computable hash: bucket = 60-bit md5 prefix of (id ‖ seed)
    * mod `holdoutDenom`, holdout iff bucket < `holdoutNumer`. Same
    * contract as [[splitByHash]] (survives retries, repartitioning,
    * incremental reruns; map-side) — xxhash64 stays the faster
    * in-engine path; use this form when cross-engine reproducibility
    * or differential testing matters. Returns (train, holdout). */
  def splitByMd5(df: DataFrame, id: Column, holdoutNumer: Int,
                 holdoutDenom: Int, seed: Long = 42L): (DataFrame, DataFrame) = {
    require(holdoutNumer >= 0 && holdoutNumer <= holdoutDenom && holdoutDenom > 0)
    val bucket = pmod(md5Bucket(id, seed), lit(holdoutDenom))
    (df.where(bucket >= holdoutNumer), df.where(bucket < holdoutNumer))
  }

  /** CCNet-style quality bucketing, exact-rank twin: append a `bucket`
    * column (1..`buckets`, 1 = first in `order`) via `ntile` over a
    * deterministic GLOBAL order — CCNet's head/middle/tail split is
    * exactly `buckets = 3` over perplexity ascending (here: a quality
    * score descending, e.g.
    * [[graft.functions.TextFunctions.unigramLogProbScore]]). The
    * global window is a single-partition sort — the oracle/parity
    * form (NTILE is exact and engine-portable given a total order;
    * include a unique tiebreak column in `order`). Production path at
    * scale: [[bucketByQuantiles]]. */
  def bucketByRank(df: DataFrame, order: Seq[Column], buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets $buckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("bucket", ntile(buckets).over(Window.orderBy(order: _*)))
  }

  /** Production twin of [[bucketByRank]]: bucket by approximate
    * quantile cutoffs of `score` instead of a global sort. One
    * partial-aggregable Greenwald-Khanna pass computes the
    * `buckets - 1` cutoffs (driver-side array, small by construction),
    * which fold back in as literals — every row is then bucketed
    * map-side; no shuffle, no single-partition window.
    *
    * Orientation matches the rank form it twins: `descending = false`
    * ⇒ bucket 1 holds the LOWEST scores (as `bucketByRank(df,
    * Seq(col(score)), n)`); `descending = true` ⇒ bucket 1 holds the
    * HIGHEST (as the `.desc`-ordered call in q_ccnet_buckets, where
    * bucket 1 = CCNet "head"). Rows tied exactly at a cutoff land with
    * the LOWER scores' bucket in both orientations (bucket 1 when
    * ascending, the higher-numbered bucket when descending) — exactly
    * where ntile puts the boundary row when the cutoffs are exact
    * order statistics at bucket boundaries. A null score maps
    * to a null bucket — never silently to bucket 1 (approxQuantile
    * already ignores nulls when fitting the cutoffs). `relativeError =
    * 0` makes the cutoffs exact quantiles; boundary assignment can
    * still differ from the rank form by the rows tied at a cutoff. */
  def bucketByQuantiles(df: DataFrame, score: String, buckets: Int,
                        relativeError: Double = 1e-4,
                        descending: Boolean = false): DataFrame = {
    require(buckets >= 1, s"buckets $buckets must be >= 1")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val cuts = df.stat.approxQuantile(score, probs, relativeError)
    val ordered = if (descending) cuts.reverse else cuts
    val step = ordered.foldLeft(lit(0)) { (acc, c) =>
      val crossed = if (descending) col(score) <= lit(c) else col(score) > lit(c)
      acc + when(crossed, 1).otherwise(0)
    }
    df.withColumn("bucket", when(col(score).isNotNull, lit(1) + step))
  }

  /** One-pass corpus audit — the summary a pipeline logs before and
    * after every curation stage (doc/token/char totals, source
    * cardinality, token-length distribution): ONE aggregate over the
    * corpus with map-side partials; no joins, no second scan. The
    * exact `percentile` is interpolated identically in Spark and
    * DuckDB, so the whole row is oracle-checkable; swap
    * [[approxPercentile]] in when the exact sort-based percentile is
    * too heavy at full scale. Output: 1 row (n_docs, n_tokens,
    * n_chars, n_sources, avg_tokens, min_tokens, max_tokens,
    * p50_tokens, p90_tokens). */
  def corpusStats(df: DataFrame, text: Column, source: Column): DataFrame = {
    val nTok = size(graft.functions.TextFunctions.tokens(text))
    df.agg(
      count(lit(1)).as("n_docs"),
      sum(nTok).cast("long").as("n_tokens"),
      sum(length(text)).cast("long").as("n_chars"),
      count_distinct(source).as("n_sources"),
      round(avg(nTok), 6).as("avg_tokens"),
      min(nTok).cast("long").as("min_tokens"),
      max(nTok).cast("long").as("max_tokens"),
      round(percentile(nTok, lit(0.5)), 6).as("p50_tokens"),
      round(percentile(nTok, lit(0.9)), 6).as("p90_tokens"))
  }

  /** Per-group twin of [[corpusStats]]: the same one-pass audit
    * aggregate grouped by `keys` (language, source, split, …) — the
    * table a curation run compares across languages before and after
    * each stage. Same map-side-partial shape; group cardinality is the
    * only scale knob. */
  def corpusStatsBy(df: DataFrame, keys: Seq[String], text: Column,
                    source: Column): DataFrame = {
    val nTok = size(graft.functions.TextFunctions.tokens(text))
    df.groupBy(keys.map(col).toIndexedSeq: _*).agg(
      count(lit(1)).as("n_docs"),
      sum(nTok).cast("long").as("n_tokens"),
      sum(length(text)).cast("long").as("n_chars"),
      count_distinct(source).as("n_sources"),
      round(avg(nTok), 6).as("avg_tokens"),
      min(nTok).cast("long").as("min_tokens"),
      max(nTok).cast("long").as("max_tokens"),
      round(percentile(nTok, lit(0.5)), 6).as("p50_tokens"),
      round(percentile(nTok, lit(0.9)), 6).as("p90_tokens"))
  }

  /** Deterministic k-fold assignment on the stable 60-bit md5 hash:
    * fold = 1 + (hash(id ‖ seed) mod k) — the cross-validation /
    * sharded-eval splitter. Same contract as [[splitByMd5]]
    * (repartition/retry-invariant, map-side, oracle-computable);
    * folds partition the corpus exhaustively with ~equal expected
    * sizes. */
  def kFoldByMd5(df: DataFrame, id: Column, k: Int, seed: Long = 42L,
                 fold: String = "fold"): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    df.withColumn(fold, (md5Bucket(id, seed) % k).cast("int") + 1)
  }

  /** HyperLogLog++ distinct-count sketch (mergeable partial aggregate;
    * `rsd` = target relative standard deviation). The approximate twin
    * of `count_distinct` for 100 TB cardinalities where the exact
    * shuffle is the bottleneck. */
  def approxCountDistinct(e: Column, rsd: Double = 0.01): Column =
    approx_count_distinct(e, rsd)

  /** Approximate percentile sketch (Greenwald-Khanna; `accuracy` ↑ =
    * tighter bounds, more memory). The approximate twin of the exact
    * `percentile` used by q_percentile. */
  def approxPercentile(e: Column, percentage: Double, accuracy: Int = 10000): Column =
    percentile_approx(e, lit(percentage), lit(accuracy))

  // ------------------------------------------------------------------
  // Deterministic global hash order: rank / shuffle / token budgets
  // ------------------------------------------------------------------

  /** Salted md5 sort key shared by the hash-order family — lowercase
    * hex on both engines, so every op built on it is SQL-expressible
    * for differential testing (same contract as
    * [[graft.operators.Grouping.sampleByHash]]). */
  private def saltedMd5(id: Column, seed: Long): Column =
    md5(concat(id.cast("string"), lit(seed.toString)))

  /** First two hex chars of the salted hash — 256 chunks that are
    * PREFIX-ALIGNED with the hash's lexicographic order, so
    * (chunk, hash) sorts identically to (hash): per-chunk windows plus
    * a driver-computed chunk prefix-offset reproduce the GLOBAL order
    * without ever sorting on a single partition. */
  private def hashChunk(h: Column): Column = substring(h, 1, 2)

  /** Per-chunk prefix offsets: aggregate `value` per chunk (one narrow
    * counting pass — 256 result rows by construction, safe to
    * collect), then exclusive-prefix-sum on the driver and fold back
    * as a literal map. */
  private def chunkOffsets(withChunk: DataFrame, value: Column): Column = {
    val per = withChunk.groupBy(col("__chunk")).agg(sum(value).cast("long").as("__v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = per.map { case (c, n) => val o = (c, acc); acc += n; o }
    element_at(map(offs.flatMap { case (c, o) => Seq(lit(c), lit(o)) }.toIndexedSeq: _*),
      col("__chunk"))
  }

  /** Global deterministic 1-based rank by salted hash of `id` — the
    * reproducible "shuffled position" a training pipeline stamps on
    * every example before sharding. NOT a single-partition
    * `Window.orderBy`: ranks come from 256 hash-prefix chunk windows
    * plus driver prefix-offsets (two passes: one narrow count, one
    * chunk-partitioned window — both scale-out). Requires unique ids
    * (the id tie-break keeps the order total, same contract as
    * [[graft.operators.Grouping.samplePerKeyByHash]]). */
  def hashRank(df: DataFrame, id: String, seed: Long = 42L,
               pos: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withH = df.withColumn("__h", saltedMd5(col(id), seed))
      .withColumn("__chunk", hashChunk(col("__h")))
    val off = chunkOffsets(withH, lit(1L))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__h"), col(id))
    withH.withColumn(pos, row_number().over(w).cast("long") + off)
      .drop("__h", "__chunk")
  }

  /** Deterministic global shuffle for training-order writes: range-
    * partition on the salted hash and sort within partitions — files
    * come out in a reproducible pseudo-random order (seed-keyed), with
    * NO global sort bottleneck (range exchange + local sorts only).
    * Feed straight to a parquet/text writer; pair with [[hashRank]]
    * when the position itself must be a column. */
  def shuffleDeterministic(df: DataFrame, id: String, seed: Long = 42L,
                           partitions: Int = 0): DataFrame = {
    val h = saltedMd5(col(id), seed)
    val ranged =
      if (partitions > 0) df.repartitionByRange(partitions, h, col(id))
      else df.repartitionByRange(h, col(id))
    ranged.sortWithinPartitions(h, col(id))
  }

  /** Greedy hash-ordered prefix up to a GLOBAL token budget: rank docs
    * by salted hash and keep them while the running token total
    * (inclusive of the current doc) stays ≤ `budget` — the standard
    * "draw N tokens from this source" corpus-assembly step, fully
    * deterministic per seed and repartition-invariant. Prefix
    * semantics: the first doc to overflow the budget and EVERYTHING
    * after it is dropped, even if some later doc would individually
    * fit — that is what keeps the draw a pure function of (id, seed)
    * and SQL-expressible. Same chunked-prefix machinery as
    * [[hashRank]] (a narrow per-chunk token-sum pass + one
    * chunk-partitioned cumulative window), so there is no
    * single-partition sort at any scale. `nTokens` is evaluated twice
    * (sum pass + window pass) — pass a column, not a cached value. */
  def sampleToTokenBudget(df: DataFrame, id: String, nTokens: Column,
                          budget: Long, seed: Long = 42L): DataFrame = {
    require(budget >= 0, s"budget $budget must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val withH = df.withColumn("__t", nTokens.cast("long"))
      .withColumn("__h", saltedMd5(col(id), seed))
      .withColumn("__chunk", hashChunk(col("__h")))
    val off = chunkOffsets(withH, col("__t"))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__h"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withH.withColumn("__cum", sum(col("__t")).over(w) + off)
      .where(col("__cum") <= budget)
      .drop("__t", "__h", "__chunk", "__cum")
  }

  /** Per-key twin of [[sampleToTokenBudget]]: each key (language,
    * source, …) independently keeps its hash-ordered prefix up to
    * `budget` tokens — the "balance the mixture to N tokens per
    * language" step. One window shuffle partitioned BY THE KEYS (never
    * global), so it scales with key cardinality like any groupBy. */
  def samplePerKeyTokenBudget(df: DataFrame, keys: Seq[String], id: String,
                              nTokens: Column, budget: Long,
                              seed: Long = 42L): DataFrame = {
    require(budget >= 0, s"budget $budget must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(saltedMd5(col(id), seed), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(nTokens.cast("long")).over(w))
      .where(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): rank rows by `key = ln(u) / w` where `u` is the
    * 60-bit salted-md5 uniform mapped to (0, 1] and `w` the row's
    * weight, keep the top `k` — equivalent to ranking by `u^(1/w)`,
    * which draws each subset with the weighted-without-replacement
    * probability ("sample 10k docs ∝ token count"). Deterministic per
    * (id, seed) and repartition/retry-invariant like every
    * hash-ordered draw here. Keys rank UNROUNDED with the id
    * tie-break: the md5 uniform is bit-identical cross-engine and
    * `ln` differs by at most 1 ulp on the same input — adjacent order
    * statistics of a continuous key sit many orders of magnitude
    * apart, so a rank flip needs an exact key collision
    * (measure-zero). Rounding was probed and REJECTED: at
    * token-count-scale weights (1e4+) the keys compress into
    * [-1e-3, 0] and round(6) collapses huge tie groups, degrading the
    * draw to id order inside them — the without-replacement
    * distribution no longer holds. Compiles to TakeOrdered
    * (per-partition top-k + a k-row driver merge — no global sort,
    * same plan contract as `sampleByHash`). Rows with weight <= 0 or
    * null are dropped (they carry no draw probability). Requires
    * unique `id`s (duplicate ids share a key and tie-break
    * arbitrarily among themselves — the standard hash-draw
    * precondition). */
  def sampleWeightedByHash(df: DataFrame, id: Column, weight: Column, k: Int,
                           seed: Long = 42L): DataFrame = {
    require(k >= 0, s"k $k must be >= 0")
    val u = (md5Bucket(id, seed) + lit(1L)).cast("double") /
      lit((1L << 60).toDouble)
    val key = log(u) / weight.cast("double")
    df.where(weight.isNotNull && weight.cast("double") > 0)
      .withColumn("__wkey", key)
      .orderBy(col("__wkey").desc, id)
      .limit(k)
      .drop("__wkey")
  }

  /** Per-key twin of [[sampleWeightedByHash]]: each key independently
    * keeps its top-`k` A-ES draw ("per language, sample k docs ∝
    * token count") — one window shuffle partitioned by the keys,
    * scaling with key cardinality like [[capPerKeyByHash]]. Same
    * unrounded-key + id tie-break determinism contract. */
  def sampleWeightedPerKeyByHash(df: DataFrame, keys: Seq[String], id: Column,
                                 weight: Column, k: Int,
                                 seed: Long = 42L): DataFrame = {
    require(k >= 0, s"k $k must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val u = (md5Bucket(id, seed) + lit(1L)).cast("double") /
      lit((1L << 60).toDouble)
    val key = log(u) / weight.cast("double")
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(key.desc, id)
    df.where(weight.isNotNull && weight.cast("double") > 0)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__rk")
  }

  /** Per-key quota cap: keep at most `n` rows per key, chosen by the
    * deterministic salted-md5 order (repartition-invariant, survives
    * retries and incremental reruns) — the "at most N docs per
    * registered domain" crawl-curation stage (pair with
    * [[graft.functions.TextFunctions.registeredDomain]]). One window
    * shuffle partitioned by the keys, so it scales with key
    * cardinality like any groupBy; a single pathological hot key
    * sorts its rows in one task's external sort — cap-then-count that
    * case via [[graft.functions.TextFunctions.domainStats]] first if
    * a key can exceed task memory in ids alone. Requires unique `id`s
    * (the tie-break keeps the order total). */
  def capPerKeyByHash(df: DataFrame, keys: Seq[String], id: String, n: Int,
                      seed: Long = 42L): DataFrame = {
    require(n >= 0, s"cap $n must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(saltedMd5(col(id), seed), col(id))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n)
      .drop("__rk")
  }

  /** Per-key twin of [[hashRank]]: a deterministic 1-based hash rank
    * WITHIN each key, without a per-key single-partition sort — ranks
    * come from (key, hash-prefix-chunk) windows plus driver-collected
    * per-key chunk prefix-offsets (|keys|·256 count rows, collected —
    * so this form is for LOW-cardinality keys: sources, languages,
    * splits. For high-cardinality keys a plain per-key window is
    * already scale-out — see [[capPerKeyByHash]]). Requires unique
    * `id`s and NON-NULL keys (the offset lookup concatenates key
    * strings; `concat_ws` drops nulls where the driver side would
    * print "null" — filter null keys first). Key strings MAY contain
    * any character: each component is backslash-escaped before the
    * separator join, so two distinct key tuples can never render to
    * the same concat string. */
  /** Unambiguous key-tuple concatenation separator (U+0001) — shared
    * by [[hashRankBy]] and [[keySkewReport]]. */
  private val keySep = "\u0001"

  /** Injective per-component escape (\ -> \\, sep -> \sep): with no
    * bare sep char left inside a component, the sep-join of escaped
    * components is injective over key tuples — without it two
    * distinct tuples (e.g. ("a<sep>b","c") and ("a","b<sep>c"))
    * render identically and silently merge (offset entries in
    * [[hashRankBy]], report rows in [[keySkewReport]]). Null
    * components pass through as null — each caller chooses its null
    * rendering. */
  private def escapeKeyComponent(c: Column): Column =
    replace(replace(c.cast("string"), lit("\\"), lit("\\\\")),
      lit(keySep), lit("\\" + keySep))

  def hashRankBy(df: DataFrame, keys: Seq[String], id: String,
                 seed: Long = 42L, pos: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sep = keySep
    def esc(c: Column): Column = escapeKeyComponent(c)
    val withH = df.withColumn("__h", saltedMd5(col(id), seed))
      .withColumn("__chunk", hashChunk(col("__h")))
    val keyStr = concat_ws(sep, keys.map(c => esc(col(c))): _*)
    // per-(key, chunk) counts: |keys|·256 rows by the documented
    // cardinality contract — prefix-sum per key on the driver.
    // Grouping on the CAST-STRING key (not the raw columns) keeps the
    // driver-built offset-map keys bit-identical to the plan-side
    // concat for ANY key type — a JVM toString (Timestamp, binary)
    // need not match Spark's cast-to-string rendering.
    val per = withH.groupBy(keyStr.as("__k"), col("__chunk"))
      .agg(count(lit(1)).as("__v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy { case (k, c, _) => (k, c) }
    val offs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var curKey: String = null
    var acc = 0L
    per.foreach { case (k, c, v) =>
      if (k != curKey) { curKey = k; acc = 0L }
      offs += ((k + sep + c, acc)); acc += v
    }
    val offMap = map(offs.flatMap { case (k, o) => Seq(lit(k), lit(o)) }
      .toIndexedSeq: _*)
    val w = Window.partitionBy((keys :+ "__chunk").map(col).toIndexedSeq: _*)
      .orderBy(col("__h"), col(id))
    withH.withColumn(pos, row_number().over(w).cast("long") +
        element_at(offMap, concat(keyStr, lit(sep), col("__chunk"))))
      .drop("__h", "__chunk")
  }

  /** Deterministic proportional interleave — the ORDER companion to
    * [[mixByWeights]] (that one selects a subset; this one sequences
    * the whole mixture): stamp each row with
    * `ikey = rank_within_source / weight(source)`, so sorting by
    * (`ikey`, source, `pos`) yields a stream whose every prefix holds
    * the sources in ≈ their weight proportions — the epoch-free
    * curriculum order training pipelines shard and read sequentially.
    * Ranks are the [[hashRankBy]] chunked per-source hash ranks (no
    * single-partition sorts; source cardinality is low by the same
    * contract). A source absent from `weights` gets `defaultWeight`;
    * nonpositive weights are rejected (drop those rows first). The
    * division is one correctly-rounded double op on exact integers —
    * cross-engine exact. Output: input columns + `pos` (per-source
    * rank) + `ikey`; write with
    * [[shuffleDeterministic]]-style range partitioning on (`ikey`,
    * source, `pos`) or sort downstream. */
  def interleaveByWeights(df: DataFrame, source: String, id: String,
                          weights: Map[String, Double],
                          defaultWeight: Double = 1.0,
                          seed: Long = 42L): DataFrame = {
    require(defaultWeight > 0, s"defaultWeight $defaultWeight must be > 0")
    require(weights.values.forall(_ > 0), s"weights must be > 0: $weights")
    val ranked = hashRankBy(df, Seq(source), id, seed)
    val wCol =
      if (weights.isEmpty) lit(defaultWeight)
      else coalesce(
        element_at(map(weights.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toIndexedSeq: _*),
          col(source)),
        lit(defaultWeight))
    ranked.withColumn("ikey", col("pos").cast("double") / wCol)
  }

  /** Data-contract audit (the expectations/dq-check tier a pipeline
    * runs on every landed table): not-null, composite-key uniqueness,
    * and numeric-range rules evaluated in ONE scan of the table
    * (conditional sums + count_distinct, all map-side-partial; a
    * uniqueness rule adds the distinct-aggregate rewrite's single
    * keyed exchange — PlanSpec-guarded),
    * reported as tall (rule, violations) rows — zero everywhere =
    * contract holds, and the per-rule counts localize the break when
    * it doesn't. Semantics: range rules ignore nulls (pair with a
    * not-null rule — a null is not "out of range"); the uniqueness
    * count is `count(*) - count_distinct(keys)` with the usual
    * distinct-aggregate null handling (rows with null key components
    * are skipped by count_distinct — again pair with not-null rules
    * on key columns). Referential rules need a join, so they live in
    * [[refIntegrityViolations]]; union the outputs. */
  def expectationsReport(df: DataFrame,
                         notNull: Seq[String] = Nil,
                         uniqueKeys: Seq[Seq[String]] = Nil,
                         ranges: Seq[(String, Double, Double)] = Nil): DataFrame = {
    val labeled: Seq[(String, Column)] =
      notNull.map(c => s"not_null:$c" ->
        sum(when(col(c).isNull, 1L).otherwise(0L))) ++
      uniqueKeys.map(ks => s"unique:${ks.mkString("+")}" ->
        (count(lit(1)) - countDistinct(col(ks.head), ks.tail.map(col): _*))) ++
      ranges.map { case (c, lo, hi) => s"range:$c" ->
        sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L)
          .otherwise(0L))
      }
    require(labeled.nonEmpty, "expectationsReport needs at least one rule")
    val row = df.agg(labeled.head._2.as("c0"),
      labeled.tail.zipWithIndex.map { case ((_, e), i) => e.as(s"c${i + 1}") }: _*)
    val structs = labeled.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"),
        coalesce(col(s"c$i").cast("long"), lit(0L)).as("violations"))
    }
    row.select(explode(array(structs.toIndexedSeq: _*)).as("__r"))
      .select(col("__r.rule").as("rule"), col("__r.violations").as("violations"))
  }

  /** Referential-integrity rule: child rows whose key tuple has no
    * match in the parent (left-anti count). Rows with null key
    * components never match and so COUNT as violations — pre-filter
    * or pair with not-null rules if nulls are legal. Same (rule,
    * violations) shape as [[expectationsReport]] for unioning. */
  def refIntegrityViolations(child: DataFrame, childKeys: Seq[String],
                             parent: DataFrame, parentKeys: Seq[String]): DataFrame = {
    require(childKeys.nonEmpty && childKeys.length == parentKeys.length,
      s"key lists must be non-empty and same length: $childKeys vs $parentKeys")
    val p = parent.select(parentKeys.map(k => col(k).as(s"__p_$k")).toIndexedSeq: _*)
    val cond = childKeys.zip(parentKeys)
      .map { case (a, b) => child(a) === p(s"__p_$b") }.reduce(_ && _)
    child.join(p, cond, "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(s"ref:${childKeys.mkString("+")}").as("rule"),
        col("violations"))
  }

  /** Exact precision/recall curve of a classifier score against
    * binary labels — the evaluation companion to the quality-model
    * family ([[graft.functions.TextFunctions.trainHashedLogisticWeights]]):
    * one output row per distinct rounded score s, with the confusion
    * counts of the rule "predict positive iff score >= s". All counts
    * are exact integers; precision/recall are exact IEEE int
    * quotients (cross-engine stable, the containment convention).
    *
    * Scale shape: one (score, pos, neg) aggregate (map-side partials
    * collapse the corpus to one row per distinct rounded score), then
    * the [[hashRank]] chunked-prefix recipe ALIGNED TO SCORE ORDER —
    * range-bucket the score domain into `chunks` buckets, per-chunk
    * descending cumulative window, driver exclusive-prefix offsets
    * from one <= `chunks`-row collect. No single-partition window at
    * any scale; a skewed score distribution only unbalances bucket
    * sizes, never correctness. Labels MUST be 0/1 (or boolean) —
    * enforced. Null scores/labels are dropped. `roundTo` bounds the
    * row count (and is what makes thresholds cross-engine stable).
    * Output: (threshold, tp, fp, fn, tn, precision, recall);
    * recall = 0.0 when there are no positives at all. */
  def prCurve(df: DataFrame, score: Column, label: Column,
              roundTo: Int = 6, chunks: Int = 256): DataFrame = {
    require(roundTo >= 0, s"roundTo $roundTo must be >= 0")
    require(chunks >= 1, s"chunks $chunks must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val (perS, statsOpt) = perScoreCounts(df, score, label, roundTo, "prCurve")
    val out = Seq(col("__s").as("threshold"), col("__tp").as("tp"),
      col("__fp").as("fp"), col("__fn").as("fn"), col("__tn").as("tn"),
      col("__precision").as("precision"), col("__recall").as("recall"))
    if (statsOpt.isEmpty)
      return perS.withColumn("__tp", lit(0L)).withColumn("__fp", lit(0L))
        .withColumn("__fn", lit(0L)).withColumn("__tn", lit(0L))
        .withColumn("__precision", lit(0.0)).withColumn("__recall", lit(0.0))
        .select(out: _*)
    val (lo, hi, totP, totN) = statsOpt.get
    val withC = scoreChunks(perS, lo, hi, chunks, descending = true)
    val Seq(offP, offN) = chunkPrefixOffsets(withC, Seq("__pos", "__neg"))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withC
      .withColumn("__tp", sum(col("__pos")).over(w) + offP)
      .withColumn("__fp", sum(col("__neg")).over(w) + offN)
      .withColumn("__fn", lit(totP) - col("__tp"))
      .withColumn("__tn", lit(totN) - col("__fp"))
      .withColumn("__precision",
        col("__tp").cast("double") / (col("__tp") + col("__fp")))
      .withColumn("__recall",
        if (totP == 0L) lit(0.0) else col("__tp").cast("double") / lit(totP.toDouble))
      .select(out: _*)
  }

  /** Shared per-score counting stage for the classifier-eval family
    * ([[prCurve]] / [[rocAuc]]): score cast to double and rounded
    * (an IntegerType score would otherwise survive `round` and crash
    * the stats reads), labels STRICTLY validated 0/1 on the raw
    * per-score min/max (a per-group sum proxy lets a 2-label slip
    * through when enough 0-rows share its score), per-score
    * (pos, neg) aggregate materialized (it feeds the stats row, the
    * chunk totals, and the window), stats = (lo, hi, totP, totN) or
    * None on empty input. */
  private def perScoreCounts(df: DataFrame, score: Column, label: Column,
                             roundTo: Int, caller: String)
      : (DataFrame, Option[(Double, Double, Long, Long)]) = {
    val base = df.select(round(score.cast("double"), roundTo).as("__s"),
        label.cast("int").as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
    val perS = Dedup.materializeLazily(base.groupBy(col("__s")).agg(
      sum(col("__y")).cast("long").as("__pos"),
      (count(lit(1)) - sum(col("__y"))).cast("long").as("__neg"),
      min(col("__y")).as("__ymin"), max(col("__y")).as("__ymax")))
    val stats = perS.agg(min(col("__s")), max(col("__s")),
      coalesce(sum(col("__pos")), lit(0L)),
      coalesce(sum(col("__neg")), lit(0L)),
      coalesce(min(col("__ymin")), lit(0)),
      coalesce(max(col("__ymax")), lit(1))).head()
    if (stats.isNullAt(0)) (perS, None)
    else {
      require(stats.getInt(4) >= 0 && stats.getInt(5) <= 1,
        s"$caller labels must be 0/1 or boolean, saw " +
          s"[${stats.getInt(4)}, ${stats.getInt(5)}]")
      (perS, Some((stats.getDouble(0), stats.getDouble(1),
        stats.getLong(2), stats.getLong(3))))
    }
  }

  /** Chunk assignment aligned to score order: range-bucket `__s` over
    * [lo, hi] into `chunks` buckets, ascending or descending — chunk
    * 0 always holds the FIRST scores of the chosen traversal, so an
    * exclusive prefix over chunk-ascending totals is a global prefix
    * in score order. */
  private def scoreChunks(perS: DataFrame, lo: Double, hi: Double,
                          chunks: Int, descending: Boolean): DataFrame =
    perS.withColumn("__chunk",
      if (hi == lo) lit(0)
      else {
        val frac =
          if (descending) (lit(hi) - col("__s")) / lit(hi - lo)
          else (col("__s") - lit(lo)) / lit(hi - lo)
        least(lit(chunks - 1), greatest(lit(0),
          floor(frac * chunks).cast("int")))
      })

  /** Driver exclusive-prefix offsets of `valueCols` per chunk — one
    * <= chunks-row collect by construction (the hashRank chunkOffsets
    * contract), folded back as literal maps keyed on `__chunk`. */
  private def chunkPrefixOffsets(withC: DataFrame,
                                 valueCols: Seq[String]): Seq[Column] = {
    val per = withC.groupBy(col("__chunk"))
      .agg(sum(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(v => sum(col(v)).as(v)): _*)
      .collect()
      .map(r => (r.getInt(0), valueCols.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val accs = Array.fill(valueCols.size)(0L)
    val offs = per.map { case (c, vals) =>
      val o = (c, accs.toIndexedSeq)
      vals.zipWithIndex.foreach { case (v, i) => accs(i) += v }
      o
    }
    valueCols.indices.map { i =>
      element_at(
        map(offs.flatMap { case (c, os) => Seq(lit(c), lit(os(i))) }
          .toIndexedSeq: _*),
        col("__chunk"))
    }
  }

  /** Shuffle-key skew diagnostic — the "will this join/groupBy fall
    * over" pre-flight a 100 TB pipeline runs before keying on a
    * column: the `topK` heaviest key tuples with their row counts,
    * corpus share, and skew factor (count ÷ mean-rows-per-key; AQE
    * absorbs moderate skew, but a key holding 1% of 100 TB needs
    * salting — `saltedJoin` — and this report is how you find it
    * FIRST). One per-key count aggregate (map-side partials), one
    * 2-scalar driver row over the slim count table, a distributed
    * TakeOrdered (orderBy+limit) for the top-k — never a full global
    * sort. Key tuples render with the [[hashRankBy]] injective escape
    * so distinct tuples can't alias; a NULL component renders as the
    * bare separator char — which an escaped non-null component can
    * never contain, so null and '' stay distinct rendered keys
    * (they are distinct groups in the underlying count). Ties on
    * count break on the rendered key — deterministic. share is an exact int
    * quotient; skew = rows·distinct/total in doubles (exact below
    * 2^53, diagnostic-grade above). */
  def keySkewReport(df: DataFrame, keys: Seq[String],
                    topK: Int = 10): DataFrame = {
    require(keys.nonEmpty, "keySkewReport needs at least one key column")
    require(topK >= 1, s"topK $topK must be >= 1")
    val rend: String => Column = k =>
      when(col(k).isNull, lit(keySep))
        .otherwise(escapeKeyComponent(col(k)))
    val counts = Dedup.materializeLazily(
      df.groupBy(keys.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("__rows"))
        .select(concat_ws(keySep, keys.map(rend).toIndexedSeq: _*)
          .as("__key"), col("__rows")))
    val stats = counts.agg(coalesce(sum(col("__rows")), lit(0L)),
      count(lit(1))).head()
    val total = stats.getLong(0)
    val nDistinct = stats.getLong(1)
    val spark = df.sparkSession
    import spark.implicits._
    if (total == 0L)
      return Seq.empty[(Long, String, Long, Double, Double)]
        .toDF("rank", "key", "rows", "share", "skew")
    import org.apache.spark.sql.expressions.Window
    val top = counts.orderBy(col("__rows").desc, col("__key").asc).limit(topK)
    // the rank window only ever sees the <= topK surviving rows
    val w = Window.orderBy(col("__rows").desc, col("__key").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("__key").as("key"), col("__rows").as("rows"),
        (col("__rows").cast("double") / lit(total.toDouble)).as("share"),
        (col("__rows").cast("double") * lit(nDistinct.toDouble) /
          lit(total.toDouble)).as("skew"))
  }

  /** ROC-AUC of a score against binary labels, in the exact
    * Mann-Whitney midrank form: AUC = (R+ − P(P+1)/2) / (P·N) where
    * R+ is the positives' rank sum under ascending midranks (ties
    * share the mean rank — the standard ties-corrected estimator,
    * identical to trapezoidal area under the ROC). Midranks step in
    * halves, so every intermediate is exact in binary at oracle scale
    * (counts ≪ 2^53; at 10^10-row scale the final ratio carries
    * ordinary 1e-16 double error — fine for a ratio). Same per-score
    * aggregate + chunked ascending cumulative as [[prCurve]]; the
    * output is ONE row (auc, positives, negatives). Degenerate input
    * (no positives or no negatives) returns auc = 0.5 — no
    * discrimination information either way. */
  def rocAuc(df: DataFrame, score: Column, label: Column,
             roundTo: Int = 6, chunks: Int = 256): DataFrame = {
    require(roundTo >= 0, s"roundTo $roundTo must be >= 0")
    require(chunks >= 1, s"chunks $chunks must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val (perS, statsOpt) = perScoreCounts(df, score, label, roundTo, "rocAuc")
    val spark = df.sparkSession
    import spark.implicits._
    if (statsOpt.isEmpty)
      return Seq((0.5, 0L, 0L)).toDF("auc", "positives", "negatives")
    val (lo, hi, totP, totN) = statsOpt.get
    if (totP == 0L || totN == 0L)
      return Seq((0.5, totP, totN)).toDF("auc", "positives", "negatives")
    val withC = scoreChunks(perS, lo, hi, chunks, descending = false)
      .withColumn("__n", col("__pos") + col("__neg"))
    val Seq(off) = chunkPrefixOffsets(withC, Seq("__n"))
    // count of rows STRICTLY below s = ascending cumulative n minus
    // the current score's own n; midrank = below + (n+1)/2
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rankSum = withC
      .withColumn("__below", sum(col("__n")).over(w) + off - col("__n"))
      .select(sum(col("__pos") *
        (col("__below").cast("double") +
          (col("__n").cast("double") + 1.0) / 2.0)).as("__rp"))
      .head().getDouble(0)
    val auc = (rankSum - totP.toDouble * (totP.toDouble + 1.0) / 2.0) /
      (totP.toDouble * totN.toDouble)
    Seq((auc, totP, totN)).toDF("auc", "positives", "negatives")
  }

  /** Reliability-diagram bins of a PROBABILITY-LIKE score in [0, 1]
    * against binary labels: `bins` equal-width buckets
    * (bin b covers [b/bins, (b+1)/bins), score 1.0 folds into the
    * last), each reporting its count, mean score, and positive
    * fraction — calibration drift is mean_score vs frac_pos. Counts
    * and frac_pos are exact; mean_score rides round(6) (summation
    * order). One aggregate, map-side partials, no window. Scores
    * outside [0, 1] are rejected (one stats pass). */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
                      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins $bins must be >= 1")
    val base = df.select(score.cast("double").as("__s"),
        label.cast("int").as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
    val stats = base.agg(coalesce(min(col("__s")), lit(0.0)),
      coalesce(max(col("__s")), lit(1.0)),
      coalesce(min(col("__y")), lit(0)), coalesce(max(col("__y")), lit(1))).head()
    require(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0,
      s"calibrationBins scores must lie in [0,1], got " +
        s"[${stats.getDouble(0)}, ${stats.getDouble(1)}]")
    require(stats.getInt(2) >= 0 && stats.getInt(3) <= 1,
      "calibrationBins labels must be 0/1 or boolean")
    base
      .withColumn("__bin",
        least(lit(bins - 1), floor(col("__s") * bins).cast("int")))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        (sum(col("__y")).cast("double") / count(lit(1))).as("frac_pos"))
      .select(col("__bin").cast("long").as("bin"), col("n"),
        col("mean_score"), col("frac_pos"))
  }

  /** Fixed-iteration PageRank over an edge list — the link-graph
    * importance signal web-curation pipelines rank domains by (Common
    * Crawl publishes harmonic/PageRank centrality; crawl frontiers and
    * domain quality priors consume it; feed host→host edges from
    * [[graft.functions.TextFunctions.registeredDomain]] pairs).
    * Multigraph semantics: repeated edges contribute repeatedly.
    * Dangling mass (nodes with no out-edges) redistributes uniformly
    * each round — rank mass is conserved (spec-asserted ≈ 1).
    *
    * Ranks ROUND to 12 decimals each round: the per-target sum's fp
    * order is engine/partitioning-dependent and the rounding collapses
    * it far below rank scale — which is what lets a FIXED iteration
    * count unroll into chained SQL CTEs and be oracle-checked exactly
    * (q_pagerank; unlike k-means/BPE/logistic, this iterative op has a
    * closed per-round relational form). Output: (node string, rank).
    *
    * Two loop shapes, picked by the size of the rank state. When the
    * node count is at most `maxBroadcastNodes` and the row+byte guard
    * ([[stateBroadcastOk]], avg key width from the same pass) admits
    * it, the loop runs over DENSE node ids ([[denseRankLoop]]): the
    * distinct node strings are collected once into an exact dictionary,
    * the edges are encoded once into cached primitive arrays, and each
    * round is ONE Spark job — every task adds its edges' contributions
    * into a dense partial array, and the driver combines the partials
    * in partition order and applies the rank update. The driver holds
    * O(partitions × nodes) doubles per round, within the 256 MB state
    * budget; nothing stays persisted after the call. Above either cap
    * the shuffled SQL loop runs ([[shuffledRankLoop]]): the node table
    * and `edges ⋈ outdeg` are built once, each round is one edge⋈rank
    * join + per-target sum plus a one-row dangling-mass aggregate, and
    * the rank state is checkpointed per round (sweep with
    * `Dedup.releaseMaterialized`). Both shapes run the same double
    * operations in the same order, except the order of the per-target
    * and dangling-mass sums, which the rounding absorbs (bit-equality
    * specs).
    *
    * Weighted-edge contract (r12 verdict item 6): `weight` defaults to
    * 1 (bit-identical to the historical multigraph form — ×1.0 is an
    * IEEE no-op); an explicit integer weight-w edge contributes
    * exactly like w parallel edges (weighted out-degree = Σw, each
    * edge's contribution = rank/Σw · w), spec-asserted against the
    * replicated multigraph form. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 3, damping: Double = 0.85,
               maxBroadcastNodes: Long = 8000000L,
               weight: Column = lit(1L)): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(damping >= 0 && damping <= 1, s"damping $damping outside [0,1]")
    rankLoop("pageRank", edges.select(src.cast("string").as("__s"),
        dst.cast("string").as("__d"), weightGuard(weight, "pageRank").as("__wt")),
      None, iters, damping, maxBroadcastNodes)
  }

  /** Size-aware guard for the iteration-state broadcast hints: a row
    * cap alone would let wide string keys through (8M 200-char URL
    * nodes is ~1.6 GB per broadcast, rebuilt several times per
    * round), so the estimate rows·(avg key chars + 48 bytes of
    * hashed-relation overhead) must ALSO fit a 256 MB budget —
    * conservative against both Spark's hard broadcast cap and the
    * driver building 2-3 of these per round. Chars ≈ bytes for
    * id-like keys; the fallback on a miss is the always-correct
    * shuffled join. */
  private val maxStateBroadcastBytes: Double = (256L << 20).toDouble
  private def stateBroadcastOk(rows: Double, avgKeyChars: Double,
                               maxRows: Long): Boolean =
    rows <= maxRows.toDouble &&
      rows * (avgKeyChars + 48.0) <= maxStateBroadcastBytes

  /** Integer edge-weight guard shared by the weighted graph ops: a
    * weight-w edge means EXACTLY w parallel edges, so weights are
    * longs >= 1 BY CONTRACT — NULL or < 1 fails fast (the
    * rankedEvalReport raise_error convention) instead of silently
    * deleting edges or minting negative rank mass / negative votes.
    * Integer weights keep every exactness recipe intact: weighted
    * degrees and votes stay exact long sums. */
  private def weightGuard(weight: Column, op: String): Column = {
    // try_cast, not cast: under ANSI mode cast("long") THROWS on
    // NaN/Infinity/out-of-range doubles before the guard's raise_error
    // can fire, surfacing an opaque CAST_INVALID_INPUT instead of the
    // operator's message — try_cast nulls those classes so w.isNull
    // routes EVERY invalid weight through the uniform error (r14
    // advice item)
    val w = weight.try_cast("long")
    // the round-trip inequality (w =!= weight) catches the whole
    // non-integer class — a long cast would otherwise TRUNCATE 2.7
    // to 2 silently while the error message claims integers-only
    // (r13 review); integer-typed weights compare equal for free
    when(w.isNull || w < 1L || w =!= weight,
      raise_error(lit(s"$op: edge weights must be integers >= 1")))
      .otherwise(w)
  }

  /** The [[pageRank]] / [[personalizedPageRank]] loop over `e` (`__s`,
    * `__d` strings, `__wt` long weights; a row with a null end is
    * dropped): the dense loop when the rank state fits the broadcast
    * guard, else the shuffled loop. `seeds` None is pageRank's uniform
    * teleport; Some is the seed set's first column. */
  private def rankLoop(op: String, e: DataFrame, seeds: Option[DataFrame],
                       iters: Int, damping: Double, maxRows: Long): DataFrame = {
    val edges = e.where(col("__s").isNotNull && col("__d").isNotNull)
    denseRankLoop(op, edges, seeds, iters, damping, maxRows)
      .getOrElse(shuffledRankLoop(op, edges, seeds, iters, damping))
  }

  /** A partition of a rank loop's edges as parallel arrays: sources,
    * targets, weights. */
  private type EdgeBlock[K] = (Array[K], Array[K], Array[Long])
  private type Utf8 = org.apache.spark.unsafe.types.UTF8String
  private type Broadcast[T] = org.apache.spark.broadcast.Broadcast[T]
  /** Byte order of the node strings: the dense id of a node is its
    * position in the sorted dictionary. */
  private val utf8Order: Ordering[Utf8] = Ordering.fromLessThan(_.compareTo(_) < 0)

  /** The rank loop over dense node ids, or None when the rank state
    * does not fit the broadcast guard. Jobs: one for the dictionary
    * (the string edges are cached on the way), one to encode the
    * edges and sum the out-degrees, one per seed set, then ONE per
    * round. A round broadcasts q[u] = r[u] / deg[u]; each task adds
    * q[src] · w into a dense partial array; the driver adds the partials
    * in partition-index order and applies
    * `round(base + d · (in + dm / n), 12)` — the double operations, in
    * order, of the shuffled loop's SQL. The encoded edges keep at most
    * 256 MB / 8n partitions, so the partials fit the same budget as the
    * broadcast state. The output is built from the driver arrays; the
    * cached edges and the broadcasts are released before returning. */
  private def denseRankLoop(op: String, e: DataFrame, seeds: Option[DataFrame],
                            iters: Int, damping: Double,
                            maxRows: Long): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    if (maxRows < 1) return None
    val spark = e.sparkSession
    val sc = spark.sparkContext
    val strEdges = e.queryExecution.toRdd.mapPartitions { rows =>
      val s, d = Array.newBuilder[Utf8]
      val w = Array.newBuilder[Long]
      rows.foreach { r =>
        s += r.getUTF8String(0).clone(); d += r.getUTF8String(1).clone(); w += r.getLong(2)
      }
      Iterator[EdgeBlock[Utf8]]((s.result(), d.result(), w.result()))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try distinctNodes(strEdges, maxRows).map { keys =>
      require(keys.nonEmpty, s"$op needs at least one non-null edge")
      val n = keys.length
      val dict = sc.broadcast(keys)
      val parts = math.min(strEdges.getNumPartitions,
        math.max(1, (maxStateBroadcastBytes / (8.0 * n)).toInt))
      val enc = strEdges.coalesce(parts).mapPartitions { blocks =>
        val ks = dict.value
        def id(k: Utf8) = java.util.Arrays.binarySearch(ks, k, utf8Order)
        val bs = blocks.toArray
        val m = bs.map(_._3.length).sum
        val (s, d, w) = (new Array[Int](m), new Array[Int](m), new Array[Long](m))
        var j = 0
        for ((bSrc, bDst, bW) <- bs; i <- bW.indices) {
          s(j) = id(bSrc(i)); d(j) = id(bDst(i)); w(j) = bW(i); j += 1
        }
        Iterator[EdgeBlock[Int]]((s, d, w))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val deg = new Array[Long](n)
        sc.runJob(enc, (it: Iterator[EdgeBlock[Int]]) => {
          val p = new Array[Long](n)
          it.foreach { case (s, _, w) =>
            s.indices.foreach(i => p(s(i)) = Math.addExact(p(s(i)), w(i)))
          }
          p
        }).foreach(p => p.indices.foreach(u => deg(u) = Math.addExact(deg(u), p(u))))
        strEdges.unpersist()
        val tele = seeds.map(seedTeleport(op, _, dict))
        val nD = n.toDouble
        var r = Array.tabulate(n)(v => sqlRound(tele.fold(1.0 / nD)(_(v)), 12))
        for (_ <- 1 to iters) {
          val q = new Array[Double](n)
          var dm = 0.0
          for (u <- 0 until n) if (deg(u) == 0) dm += r(u) else q(u) = r(u) / deg(u).toDouble
          val qb = sc.broadcast(q)
          val in = new Array[Double](n)
          try sc.runJob(enc, (it: Iterator[EdgeBlock[Int]]) => {
            val q = qb.value
            val acc = new Array[Double](n)
            it.foreach { case (s, d, w) =>
              var i = 0
              while (i < s.length) { acc(d(i)) += q(s(i)) * w(i).toDouble; i += 1 }
            }
            acc
          }).foreach(p => p.indices.foreach(v => in(v) += p(v)))
          finally qb.destroy()
          r = Array.tabulate(n) { v =>
            val base = tele.fold((1.0 - damping) / nD)(t => (1.0 - damping) * t(v))
            sqlRound(base + damping * (in(v) + dm / nD), 12)
          }
        }
        val rows = keys.indices.map(v => Row(keys(v).toString, r(v)))
        spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism),
          StructType(Seq(StructField("node", StringType), StructField("rank", DoubleType))))
      } finally {
        enc.unpersist()
        dict.destroy()
      }
    } finally strEdges.unpersist()
  }

  /** The teleport vector of personalized PageRank over the dense ids
    * in `dict`: 1/k on each of the k distinct seeds (the first column of
    * `seeds`) present in the graph, 0 elsewhere. One job. */
  private def seedTeleport(op: String, seeds: DataFrame,
                           dict: Broadcast[Array[Utf8]]): Array[Double] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val n = dict.value.length
    val hit = new java.util.BitSet(n)
    seeds.sparkSession.sparkContext.runJob(
      seeds.select(col(seeds.columns.head).cast("string")).queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val ks = dict.value
        val b = new java.util.BitSet(n)
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val i = java.util.Arrays.binarySearch(ks, r.getUTF8String(0), utf8Order)
            if (i >= 0) b.set(i)
          }
        }
        b
      }).foreach(hit.or)
    val k = hit.cardinality.toDouble
    require(k > 0, s"$op needs >= 1 seed present in the graph")
    Array.tabulate(n)(v => if (hit.get(v)) 1.0 / k else 0.0)
  }

  /** The distinct node strings of `edges`, sorted by [[utf8Order]], or
    * None when they exceed the [[stateBroadcastOk]] guard. One job. A
    * task stops collecting once its partition passes its share of the
    * byte budget (which also sends that graph to the shuffled loop), so
    * a node table over the cap never reaches the driver. */
  private def distinctNodes(edges: org.apache.spark.rdd.RDD[EdgeBlock[Utf8]],
                            maxRows: Long): Option[Array[Utf8]] = {
    val keys = edges.flatMap { case (s, d, _) => s.iterator ++ d.iterator }.distinct()
    val share = maxStateBroadcastBytes / keys.getNumPartitions
    val parts = edges.sparkContext.runJob(keys, (it: Iterator[Utf8]) => {
      val out = Array.newBuilder[Utf8]
      var bytes = 0.0
      while (it.hasNext && bytes <= share) {
        val k = it.next()
        out += k
        bytes += k.numChars + 48.0
      }
      if (bytes <= share) Some(out.result()) else None
    })
    if (parts.contains(None)) None
    else {
      val all = parts.flatten.flatten
      val chars = all.iterator.map(_.numChars.toDouble).sum
      if (all.nonEmpty && !stateBroadcastOk(all.length, chars / all.length, maxRows)) None
      else Some(all.sorted(utf8Order))
    }
  }

  /** Spark's `round(x, scale)` of a double, on the driver: HALF_UP on
    * the shortest decimal representation; NaN and infinities pass
    * through. */
  private[graft] def sqlRound(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** The rank loop as shuffled SQL, for a rank state over the broadcast
    * guard: see [[pageRank]]. */
  private def shuffledRankLoop(op: String, edges: DataFrame, seeds: Option[DataFrame],
                               iters: Int, damping: Double): DataFrame = {
    // materializeLazily branches to a RELIABLE checkpoint when the
    // session has a checkpoint dir (executor loss mid-loop must not
    // kill the job — the components-loop recipe); outdeg materializes
    // too: it is consumed twice per round, and rebuilding the edge
    // aggregation 2·iters times was a review catch
    val e = Dedup.materializeLazily(edges)
    val nodes = Dedup.materializeLazily(
      e.select(col("__s").as("__n")).union(e.select(col("__d").as("__n")))
        .distinct())
    val n = nodes.count().toDouble
    require(n > 0, s"$op needs at least one non-null edge")
    // pageRank teleports uniformly; personalized PageRank to its seeds
    val (tele, base, r0) = seeds match {
      case None => (nodes, lit((1.0 - damping) / n), round(lit(1.0 / n), 12))
      case Some(s) =>
        val sd = Dedup.materializeLazily(
          s.select(col(s.columns.head).cast("string").as("__seed"))
            .where(col("__seed").isNotNull).distinct()
            .join(nodes.select(col("__n").as("__seed")), Seq("__seed"), "left_semi"))
        val sCount = sd.count().toDouble
        require(sCount > 0, s"$op needs >= 1 seed present in the graph")
        (nodes.join(sd, col("__n") === col("__seed"), "left")
          .select(col("__n"), when(col("__seed").isNotNull, lit(1.0 / sCount))
            .otherwise(lit(0.0)).as("__t")),
          lit(1.0 - damping) * col("__t"), round(col("__t"), 12))
    }
    val outdeg = e.groupBy("__s").agg(sum(col("__wt")).as("__deg"))
    val (nodeTab, eDeg) = rankLoopSides(tele, e, outdeg)
    var ranks = nodeTab.select(col("__n"), col("__dang"), r0.as("__r"))
    var it = 0
    while (it < iters) {
      val contribs = eDeg.join(ranks.select("__n", "__r"), col("__s") === col("__n"))
        .select(col("__d").as("__n"),
          // (r / Σw) · w — with the default weight 1 the ×1.0 is an
          // IEEE no-op, so the historical unweighted values are
          // bit-identical (q_pagerank/q_textrank margins untouched)
          (col("__r") / col("__deg") * col("__wt")).as("__c"))
        .groupBy("__n").agg(sum(col("__c")).as("__in"))
      ranks = Dedup.materializeLazily(
        withDanglingMass(nodeTab.join(contribs, Seq("__n"), "left"), ranks)
          .select(col("__n"), col("__dang"),
            round(base + lit(damping) *
              (coalesce(col("__in"), lit(0.0)) + col("__dm") / lit(n)), 12)
              .as("__r")))
      it += 1
    }
    ranks.select(col("__n").as("node"), col("__r").as("rank"))
  }

  /** The loop-invariant sides of the shuffled rank loop, built once
    * instead of every round: the node table (`__n` plus the other
    * columns of `nodes`) left-joined with the out-degrees, carrying
    * `__dang` (no out-edge), and the edges joined with their source's
    * `__deg`. */
  private def rankLoopSides(nodes: DataFrame, e: DataFrame,
                            outdeg: DataFrame): (DataFrame, DataFrame) = {
    val deg = Dedup.materializeLazily(outdeg)
    val nodeTab = Dedup.materializeLazily(
      nodes.join(deg, col("__n") === col("__s"), "left")
        .select(nodes.columns.map(col) :+ col("__deg").isNull.as("__dang"): _*))
    (nodeTab, Dedup.materializeLazily(e.join(deg, "__s")))
  }

  /** `next` with `__dm`, the previous round's dangling rank mass —
    * Σ`__r` over the `__dang` rows of `prev` — as a one-row aggregate
    * broadcast-cross-joined into the round, so the round starts no
    * driver action. */
  private def withDanglingMass(next: DataFrame, prev: DataFrame): DataFrame =
    next.crossJoin(broadcast(prev.where(col("__dang"))
      .agg(coalesce(sum(col("__r")), lit(0.0)).as("__dm"))))

  /** `next` with `__norm`, the sum of `raw`'s column `c`, as a one-row
    * aggregate broadcast-cross-joined in (the [[withDanglingMass]]
    * recipe), so a HITS round starts no driver action. A sum that is not
    * positive fails the query with `vanished`. */
  private def withNorm(next: DataFrame, raw: DataFrame, c: String,
                       vanished: String): DataFrame = {
    val total = coalesce(sum(col(c)), lit(0.0))
    next.crossJoin(broadcast(raw.agg(
      when(total > 0, total).otherwise(raise_error(lit(vanished))).as("__norm"))))
  }

  /** Fixed-iteration HITS (Kleinberg 1999) hub/authority scores over a
    * link graph — the classic companion centrality to [[pageRank]]:
    * authority(v) = Σ hub(u) over in-edges, hub(u) = Σ authority(v)
    * over out-edges, each L1-normalized per round. Same exactness
    * recipe as pageRank: per-round `round(…, 12)` collapses fp
    * summation order so the iterations unroll into chained CTEs and
    * hash-match a DuckDB replay (q_hits); same scale shape too —
    * per-round state is lazily materialized/checkpointed (lineage
    * cut), scoring rounds are one equi-join + grouped sum per side,
    * cost ∝ iters × edges with AQE handling hub-destination skew.
    * L1 (sum) normalization instead of the textbook L2: identical
    * fixed point up to scale, but avoids a cross-engine sqrt on an
    * order-dependent sum of squares. Norm scalars are one-row
    * aggregates broadcast into the round, not driver actions.
    *
    * Node-state sides broadcast under `maxBroadcastNodes` (the
    * [[pageRank]] recipe) so the constant edge table is never shuffled
    * per round; above the cap every join falls back to shuffled. */
  def hits(edges: DataFrame, src: Column, dst: Column,
           iters: Int = 2, maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    val e = Dedup.materializeLazily(
      edges.select(src.cast("string").as("__s"), dst.cast("string").as("__d"))
        .where(col("__s").isNotNull && col("__d").isNotNull))
    val nodes = Dedup.materializeLazily(
      e.select(col("__s").as("__n")).union(e.select(col("__d").as("__n")))
        .distinct())
    val nstats = nodes.agg(count(lit(1)),
      coalesce(avg(length(col("__n"))), lit(0.0))).head()
    require(nstats.getLong(0) > 0, "hits needs at least one non-null edge")
    val hinted: DataFrame => DataFrame =
      if (stateBroadcastOk(nstats.getLong(0).toDouble, nstats.getDouble(1),
          maxBroadcastNodes))
        df => broadcast(df)
      else df => df
    var hubs = nodes.withColumn("__h", lit(1.0))
    var auths = nodes.withColumn("__a", lit(0.0))
    var it = 0
    while (it < iters) {
      // the raw sums MATERIALIZE before the normalized-state build: the
      // norm sum and the state join would otherwise each recompute the
      // edge⋈state join (measured ~2× round cost in the r10 bench
      // read-through)
      val aRaw = Dedup.materializeLazily(
        e.join(hinted(hubs), col("__s") === col("__n"))
          .groupBy(col("__d")).agg(sum(col("__h")).as("__ar")))
      // every edge target has an in-edge, so with hubs ≥ 0 and ≥ 1
      // nonzero hub the total is > 0; the guard is for an all-zero
      // degenerate round (cannot happen from the 1.0 init, kept for
      // API callers seeding their own state shape)
      auths = Dedup.materializeLazily(
        withNorm(nodes.join(hinted(aRaw), col("__n") === col("__d"), "left"),
            aRaw, "__ar", "hits authority mass vanished (degenerate graph)")
          .select(col("__n"),
            round(coalesce(col("__ar"), lit(0.0)) / col("__norm"), 12).as("__a")))
      val hRaw = Dedup.materializeLazily(
        e.join(hinted(auths), col("__d") === col("__n"))
          .groupBy(col("__s")).agg(sum(col("__a")).as("__hr")))
      hubs = Dedup.materializeLazily(
        withNorm(nodes.join(hinted(hRaw), col("__n") === col("__s"), "left"),
            hRaw, "__hr", "hits hub mass vanished (degenerate graph)")
          .select(col("__n"),
            round(coalesce(col("__hr"), lit(0.0)) / col("__norm"), 12).as("__h")))
      it += 1
    }
    hubs.join(hinted(auths), "__n")
      .select(col("__n").as("node"), col("__h").as("hub"),
        col("__a").as("authority"))
  }

  /** Per-node triangle participation counts over an undirected graph
    * — the local-clustering numerator used as a link-farm /
    * community-density signal (a node whose neighbors all
    * interconnect is a very different web citizen than a pure hub).
    * Input edges are canonicalized (self-loops dropped, directions
    * and duplicates merged); nodes in no triangle are absent from the
    * output. The RESULT is orientation-invariant, which is what lets
    * the q_triangles oracle replay with the naive id orientation.
    *
    * DEFAULT = the edge-iterator intersect form (see
    * [[triangleCountsIntersect]]): the r11 probe
    * (`bench/triangleprobe_r11.txt`) measured it 1.45× faster warm on
    * the real co-purchase workload (8.4 → 5.8 s standalone sf0.1,
    * 1.2M edges / 1.88M triangles, identical outputs) than the wedge
    * self-join form, and its above-cap fallback shuffles O(m) rows
    * where the wedge form shuffles Σ outdeg² ≈ m^1.5. The wedge form
    * is kept in test scope as the differential reference
    * (`ReferenceForms.triangleCountsWedge`). */
  def triangleCounts(edges: DataFrame, src: Column, dst: Column,
                     maxBroadcastCloseEdges: Long = 8000000L): DataFrame =
    triangleCountsIntersect(edges, src, dst, maxBroadcastCloseEdges)

  /** Canonicalize + degree-orient an undirected edge list (shared by
    * the intersect form and its test-scope wedge reference):
    * self-loops dropped, directions/duplicates merged, every edge
    * pointed from its lower-(degree, node) endpoint — an acyclic
    * orientation with O(√m) max out-degree. Materialized (it feeds 2+
    * joins downstream). Output: (__f, __t). */
  private[functions] def orientEdges(edges: DataFrame, src: Column,
                                     dst: Column): DataFrame = {
    // Auto key type: both triangle forms' outputs are
    // orientation-invariant (see integralEndpoints), so the long path
    // is sound here; callers cast `node` back to string at the output
    // boundary
    val e0 = canonicalEdgesAuto(edges, src, dst)
    orientFromCanonical(e0, degreeTable(e0))
  }

  /** Canonical undirected edge list: self-loops dropped, directions
    * and duplicates merged, endpoints stringified, (__u < __v). */
  private def canonicalEdges(edges: DataFrame, src: Column,
                             dst: Column): DataFrame =
    edges.select(src.cast("string").as("__a"), dst.cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()

  /** True when both endpoint columns are integral — the LONG-keyed
    * canonical path applies (r15 optimization): half the shuffle
    * bytes and 8-byte compares through the distinct/degree/adjacency
    * machinery vs UTF-8 strings (GraphKeyProbe@afd7ec7: 20–45% per
    * stage on the sf0.1 co-purchase graph), with node labels cast
    * back to string only at the output boundary — cast(long→string)
    * produces the exact value the string path's input cast did, so
    * outputs are unchanged (oracle-gated at both SFs).
    *
    * ONLY ops whose output is ORIENTATION- and PAIR-ORDER-invariant
    * may take it: (degree, node) ranks order differently under
    * numeric vs string node order ("10" < "9" as strings), which
    * flips some edge orientations and least/greatest pairings —
    * triangle counts, degrees, and neighbor sums are invariant;
    * pair-EMITTING ops (kTruss, linkPredictionScores, modularity's
    * label joins) keep the string path. */
  private def integralEndpoints(edges: DataFrame, src: Column,
                                dst: Column): Boolean = {
    import org.apache.spark.sql.types._
    edges.select(src, dst).schema.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
  }

  /** Long-keyed twin of [[canonicalEdges]] (see [[integralEndpoints]]
    * for when it is sound). */
  private def canonicalEdgesLong(edges: DataFrame, src: Column,
                                 dst: Column): DataFrame =
    edges.select(src.cast("long").as("__a"), dst.cast("long").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()

  private def canonicalEdgesAuto(edges: DataFrame, src: Column,
                                 dst: Column): DataFrame =
    if (integralEndpoints(edges, src, dst)) canonicalEdgesLong(edges, src, dst)
    else canonicalEdges(edges, src, dst)

  /** Weighted twin of [[canonicalEdges]]: self-loops dropped, the two
    * directions merged, and duplicate/parallel rows' weights SUMMED —
    * so an edge row (u, v, w) means exactly the same graph as w copies
    * of (u, v, 1), however the caller splits or orients them (the r12
    * weighted-edge contract; weights are integers ≥ 1 via
    * [[weightGuard]], so weighted degrees/votes stay exact longs).
    * Output: (__u, __v, __w), __u < __v. */
  private def canonicalEdgesWeighted(edges: DataFrame, src: Column,
                                     dst: Column, weight: Column): DataFrame =
    edges.select(src.cast("string").as("__a"), dst.cast("string").as("__b"),
        weightGuard(weight, "weighted graph op").as("__w0"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
      .select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"), col("__w0"))
      .groupBy(col("__u"), col("__v")).agg(sum(col("__w0")).as("__w"))

  /** (__n, __d) undirected degree per node of a canonical edge list. */
  private def degreeTable(e0: DataFrame): DataFrame =
    e0.select(col("__u").as("__n"))
      .union(e0.select(col("__v").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))

  private def orientFromCanonical(e0: DataFrame, deg: DataFrame): DataFrame = {
    // rank = (degree, node): a total order, so the orientation is
    // acyclic
    Dedup.materializeLazily(e0
      .join(deg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
      .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
      .select(
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          struct(col("__u").as("f"), col("__v").as("t")))
          .otherwise(struct(col("__v").as("f"), col("__u").as("t")))
          .as("__e"))
      .select(col("__e.f").as("__f"), col("__e.t").as("__t")))
  }

  /** Edge-iterator triangle counts — the intersect form of
    * [[triangleCounts]] (identical output, probed in
    * `bench/triangleprobe_r11.txt`): instead of MATERIALIZING the Σ outdeg²
    * wedge set as rows and closing it with a semi-join, each oriented
    * edge (f, t) joins to both endpoints' sorted out-neighbor arrays
    * and a single sorted-merge kernel ([[graft.plans.TriangleContrib]])
    * emits one element per actual triangle corner. Wedge candidates
    * are enumerated INSIDE the kernel's merge loop (never as rows), so
    * row volume after the joins is 3 × triangles, not Σ outdeg².
    *
    * 100 TB: the shuffled volume is O(m) oriented-edge rows + O(m)
    * adjacency entries (Σ outdeg = m) — the wedge form's fallback
    * above the broadcast cap shuffles Σ outdeg² wedge rows instead,
    * which is the difference between m and m^1.5 bytes on the wire.
    * Under the cap the adjacency table broadcasts (row+byte guarded
    * like all loop-state hints) and the whole pipeline is one stage.
    * Hot-key fan-in (a high-rank node's in-edges all probe its
    * adjacency row) is bounded by broadcast in the small regime and
    * AQE skew splitting in the shuffled one. */
  def triangleCountsIntersect(edges: DataFrame, src: Column, dst: Column,
                              maxBroadcastAdjacency: Long = 8000000L): DataFrame =
    intersectCore(orientEdges(edges, src, dst), maxBroadcastAdjacency)
      // long-path boundary cast (no-op on the string path — the
      // optimizer removes a string→string cast); values identical to
      // the historical input-side cast
      .select(col("node").cast("string").as("node"), col("triangles"))

  private def intersectCore(oriented: DataFrame,
                            maxBroadcastAdjacency: Long): DataFrame = {
    // NOT checkpointed: the two adjacency projections canonicalize
    // identically, so the exchange is built once and REUSED (plan-
    // asserted in PlanSpec); a localCheckpoint here added a serial
    // block-store write+read that measured 2.4x slower cold under a
    // 24-core hog (72 -> 29 s, bench/triangleprobe_r12.txt -- the
    // driver-box load-fragility forensics from the r11 verdict)
    val adj = oriented.groupBy(col("__f"))
      .agg(sort_array(collect_list(col("__t"))).as("__ns"))
    // adjacency bytes ≈ oriented bytes (Σ outdeg = m entries), so the
    // broadcast guard reuses the oriented row count + endpoint widths
    // (long path: fixed 16 bytes for the two 8-byte keys)
    val keyWidth =
      if (oriented.schema("__f").dataType ==
          org.apache.spark.sql.types.StringType)
        coalesce(avg(length(col("__f")) + length(col("__t"))), lit(0.0))
      else lit(16.0)
    val estats = oriented.agg(count(lit(1)), keyWidth).head()
    val small = stateBroadcastOk(estats.getLong(0).toDouble,
      estats.getDouble(1), maxBroadcastAdjacency)
    def hinted(df: DataFrame) = if (small) broadcast(df) else df
    oriented
      .join(hinted(adj.select(col("__f").as("__jf"), col("__ns").as("__nf"))),
        col("__f") === col("__jf"))
      .join(hinted(adj.select(col("__f").as("__jt"), col("__ns").as("__nt"))),
        col("__t") === col("__jt"))
      // the kernel call stays INLINE in the generator (the registry's
      // aliased-generator-child multi-eval hazard)
      .select(explode({
        import org.apache.spark.sql.graft.Bridge
        Bridge.column(graft.plans.TriangleContrib(
          Bridge.expression(col("__nf")), Bridge.expression(col("__nt")),
          Bridge.expression(col("__f")), Bridge.expression(col("__t"))))
      }).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient — the per-node form the triangle
    * count is usually CONSUMED through (spam/community detection:
    * a high-degree node whose neighbors never interconnect is a hub
    * or a link farm; a dense ego-net is a community):
    * coeff(v) = triangles(v) / C(degree(v), 2). One-pass composite
    * over the shared canonical-edge machinery: the degree table is
    * computed once and feeds BOTH the orientation and the final
    * join (no second canonicalization shuffle), triangles ride
    * [[triangleCountsIntersect]]'s kernel. Arithmetic is exact
    * integers until the single final IEEE division (2·T and d·(d−1)
    * are exact longs), so the oracle replays it bit-exactly — no
    * rounding needed. degree < 2 → coeff 0.0 (no possible wedge);
    * isolated nodes can't appear (canonical edges only). Output:
    * (node, degree, triangles, clustering_coeff). */
  def clusteringCoefficients(edges: DataFrame, src: Column, dst: Column,
                             maxBroadcastAdjacency: Long = 8000000L): DataFrame = {
    // r15: e0 and deg are MATERIALIZED here (unlike inside
    // triangleCountsIntersect, where every consumer sits in ONE plan
    // and AQE stage-reuse dedups the identical agg subtrees): the
    // final degree join lives in a SEPARATE plan beyond the oriented
    // checkpoint boundary, so an unmaterialized deg re-ran the whole
    // pairs-join + distinct + union + aggregate from the parquet scans
    // — visible in the r15 before-plan as a second full
    // scan→join→distinct subtree under the SortMergeJoin
    // (plans/r15/q_clustering_coeff_before.txt nodes 1–26)
    val e0 = Dedup.materializeLazily(canonicalEdgesAuto(edges, src, dst))
    val deg = Dedup.materializeLazily(degreeTable(e0))
    val tri = intersectCore(orientFromCanonical(e0, deg), maxBroadcastAdjacency)
    val t = coalesce(col("triangles"), lit(0L))
    deg.select(col("__n").as("node"), col("__d").as("degree"))
      .join(tri, Seq("node"), "left")
      .select(col("node").cast("string").as("node"), col("degree"),
        t.as("triangles"),
        when(col("degree") >= 2,
          (t * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    * — the related-item / graph-augmentation miner: for every
    * NON-adjacent pair at distance 2, the number of shared neighbors
    * plus the two standard weighted variants, Adamic-Adar
    * Σ 1/ln(deg z) (rare shared neighbors count more) and Resource
    * Allocation Σ 1/deg z (Zhou et al. 2009). Each wedge center z
    * emits its neighbor pairs via the sorted-bucket emission
    * ([[Dedup.pairsFromSorted]], the LSH-bucket shape) tagged with
    * z's score terms; one groupBy on the PAIR key aggregates count
    * and sums. Output cardinality is the distance-2 pair set itself —
    * inherent to the semantics, not a join artifact.
    *
    * Cross-engine exactness (the [[unigramShiftReport]] recipe): each
    * center's terms are scaled ×1e12 and HALF_UP-rounded to BIGINTs
    * once per center, so the per-pair sums are EXACT integer sums —
    * order- and partitioning-independent. `ra` terms are 1e12/d with
    * integer d: one IEEE division, bit-identical cross-engine, zero
    * libm exposure. `aa` terms carry one libm ln(d) each; the only
    * risk is 1e12/ln(d) within ~1 ulp (~2.4e-4 at this magnitude) of
    * a .5 boundary for some degree d present in the data — the
    * q_link_pred fixture profiles the min boundary distance over its
    * degree set (recorded there). The decoded doubles are one exact
    * long→double convert + one division each — also deterministic.
    *
    * Scale: Σ C(deg z, 2) wedge rows — `maxDegree` (0 = off) skips
    * hub centers above that degree, the standard cap (a celebrity
    * node's C(d,2) pairs are the least informative and dominate the
    * blow-up; the loss is an UNDERCOUNT through capped hubs only,
    * observable by re-running uncapped — the stop-gram convention;
    * audit hub mass first via [[keySkewReport]]). Leave 0 on oracle
    * paths. Per-center pair arrays allocate C(d,2) structs before
    * explode — cap hubs at 100 TB. Edges are canonicalized (strings,
    * self-loops dropped, directions/dups merged); `includeAdjacent`
    * keeps pairs that are already edges (scores for edge-weight
    * augmentation rather than prediction). Output: (id_a, id_b,
    * common_neighbors, aa_scaled, aa_score, ra_scaled, ra_score),
    * id_a < id_b in byte order. */
  def linkPredictionScores(edges: DataFrame, src: Column, dst: Column,
                           maxDegree: Int = 0,
                           includeAdjacent: Boolean = false): DataFrame = {
    require(maxDegree >= 0, s"maxDegree $maxDegree must be >= 0")
    val e0 = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    val nb = e0.select(col("__u").as("__z"), col("__v").as("__w"))
      .union(e0.select(col("__v").as("__z"), col("__u").as("__w")))
    // degree = neighbor-array size (simple graph after canonicalize);
    // centers below degree 2 emit no wedge
    val adj0 = nb.groupBy(col("__z"))
      .agg(sort_array(collect_list(col("__w"))).as("__ns"))
      .where(size(col("__ns")) >= 2)
    val adj = if (maxDegree > 0) adj0.where(size(col("__ns")) <= maxDegree)
              else adj0
    val d = size(col("__ns")).cast("double")
    val terms = adj.select(
      explode(Dedup.pairsFromSorted(col("__ns"))).as("__p"),
      round(lit(1e12) / log(d)).cast("long").as("__aat"),
      round(lit(1e12) / d).cast("long").as("__rat"))
    val scored = terms
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__aat")).as("aa_scaled"),
        sum(col("__rat")).as("ra_scaled"))
    val kept =
      if (includeAdjacent) scored
      else scored.join(e0,
        scored("id_a") === e0("__u") && scored("id_b") === e0("__v"),
        "left_anti")
    kept.select(col("id_a"), col("id_b"), col("common_neighbors"),
      col("aa_scaled"),
      (col("aa_scaled").cast("double") / lit(1e12)).as("aa_score"),
      col("ra_scaled"),
      (col("ra_scaled").cast("double") / lit(1e12)).as("ra_score"))
  }

  /** Newman-Girvan modularity of a node partition — the quality score
    * a community detection run ([[labelPropagation]]) is audited
    * with: Q = Σ_c [m_c/m − (D_c/2m)²] over communities c (m = simple
    * undirected edges, m_c = intra-community edges, D_c = total
    * degree inside c); Q ≈ 0 means the partition is no better than
    * random wiring, Q ≳ 0.3 is real structure. `labels` = (node,
    * label) in its first two columns — nodes without a label are
    * excluded from m_c/D_c (the contract is labels covering the
    * graph, which LPA output satisfies).
    *
    * Cross-engine exactness: every per-community term is built from
    * exact integers through IDENTICAL fixed-order IEEE ops (two
    * divisions, one multiply, one subtract — no libm), so both
    * engines hold the same double; the term then rides the
    * scaled-BIGINT integer-sum recipe ([[unigramShiftReport]]) so the
    * community sum is order/partitioning-independent. The residual
    * hazard is only Spark's repr-vs-raw rounding of a term within
    * ~1 ulp of a .5e-12 grid boundary — profiled on the q_modularity
    * fixture (margins recorded there). Scale shape: two label joins +
    * two narrow aggregates, everything after is community-sized.
    * Output one row: (m_edges, n_communities, q_scaled, modularity). */
  def modularity(edges: DataFrame, src: Column, dst: Column,
                 labels: DataFrame): DataFrame = {
    val lab = Dedup.materializeLazily(labels.select(
      col(labels.columns(0)).cast("string").as("__n"),
      col(labels.columns(1)).cast("string").as("__l"))
      .where(col("__n").isNotNull && col("__l").isNotNull))
    val e0 = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    val m = e0.count()
    require(m > 0, "modularity needs at least one non-loop edge")
    val deg = degreeTable(e0)
    val mc = e0
      .join(lab.select(col("__n").as("__u"), col("__l").as("__lu")), "__u")
      .join(lab.select(col("__n").as("__v"), col("__l").as("__lv")), "__v")
      .where(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("__c")).agg(count(lit(1)).as("__mc"))
    val dc = deg.join(lab, Seq("__n"))
      .groupBy(col("__l").as("__c")).agg(sum(col("__d")).as("__dc"))
    val frac = col("__dc").cast("double") / lit(2.0 * m)
    val term = coalesce(col("__mc"), lit(0L)).cast("double") /
      lit(m.toDouble) - frac * frac
    dc.join(mc, Seq("__c"), "left")
      .agg(count(lit(1)).as("n_communities"),
        sum(round(term * lit(1e12)).cast("long")).as("__qs"))
      .select(lit(m).as("m_edges"), col("n_communities"),
        coalesce(col("__qs"), lit(0L)).as("q_scaled"),
        (coalesce(col("__qs"), lit(0L)).cast("double") / lit(1e12))
          .as("modularity"))
  }

  /** Weighted Newman-Girvan modularity — [[modularity]] with edge
    * multiplicity generalized to integer weights: W = Σw over the
    * canonical (merged) edges, W_c = intra-community weight, S_c =
    * weighted degree sum; Q = Σ_c [W_c/W − (S_c/2W)²]. Weights SUM
    * over merged duplicate/direction rows, so (u, v, w) ≡ w parallel
    * (u, v, 1) rows exactly (spec-asserted). Exactness recipe
    * unchanged: all sums are exact longs, each community term is the
    * identical fixed-order IEEE expression in both engines, and the
    * community fold rides the ×1e12 scaled-BIGINT sum. Output one row:
    * (m_weight, n_communities, q_scaled, modularity). */
  def modularityWeighted(edges: DataFrame, src: Column, dst: Column,
                         weight: Column, labels: DataFrame): DataFrame = {
    val lab = Dedup.materializeLazily(labels.select(
      col(labels.columns(0)).cast("string").as("__n"),
      col(labels.columns(1)).cast("string").as("__l"))
      .where(col("__n").isNotNull && col("__l").isNotNull))
    val e0 = Dedup.materializeLazily(
      canonicalEdgesWeighted(edges, src, dst, weight))
    val m = e0.agg(coalesce(sum(col("__w")), lit(0L))).head().getLong(0)
    require(m > 0, "modularityWeighted needs at least one non-loop edge")
    val deg = e0.select(col("__u").as("__n"), col("__w"))
      .union(e0.select(col("__v").as("__n"), col("__w")))
      .groupBy(col("__n")).agg(sum(col("__w")).as("__d"))
    val mc = e0
      .join(lab.select(col("__n").as("__u"), col("__l").as("__lu")), "__u")
      .join(lab.select(col("__n").as("__v"), col("__l").as("__lv")), "__v")
      .where(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("__c")).agg(sum(col("__w")).as("__mc"))
    val dc = deg.join(lab, Seq("__n"))
      .groupBy(col("__l").as("__c")).agg(sum(col("__d")).as("__dc"))
    val frac = col("__dc").cast("double") / lit(2.0 * m)
    val term = coalesce(col("__mc"), lit(0L)).cast("double") /
      lit(m.toDouble) - frac * frac
    dc.join(mc, Seq("__c"), "left")
      .agg(count(lit(1)).as("n_communities"),
        sum(round(term * lit(1e12)).cast("long")).as("__qs"))
      .select(lit(m).as("m_weight"), col("n_communities"),
        coalesce(col("__qs"), lit(0L)).as("q_scaled"),
        (coalesce(col("__qs"), lit(0L)).cast("double") / lit(1e12))
          .as("modularity"))
  }

  /** Average neighbor degree per node (Barrat et al. 2004) — the
    * per-node assortativity signal: a low-degree node whose neighbors
    * are all hubs (high value) is periphery; a hub whose neighbors
    * are leaves (value ≈ 1) is a broadcast/spam pattern. One degree
    * aggregate + one join + one keyed aggregate over the canonical
    * edge list — exact integer degree sums until the single final
    * IEEE division, so the oracle replays bit-exactly. Output:
    * (node, degree, nbr_degree_sum, avg_neighbor_degree); isolated
    * nodes cannot appear (canonical edges only). */
  def avgNeighborDegree(edges: DataFrame, src: Column,
                        dst: Column): DataFrame = {
    // r15: auto key type — degrees and neighbor sums are pair-order
    // invariant, so the long path is sound (see integralEndpoints);
    // node label cast back to string at the output boundary
    val e0 = Dedup.materializeLazily(canonicalEdgesAuto(edges, src, dst))
    val deg = degreeTable(e0)
    val nb = e0.select(col("__u").as("__z"), col("__v").as("__w"))
      .union(e0.select(col("__v").as("__z"), col("__u").as("__w")))
    nb.join(deg.select(col("__n").as("__w"), col("__d").as("__dw")), "__w")
      .groupBy(col("__z"))
      .agg(count(lit(1)).as("degree"), sum(col("__dw")).as("nbr_degree_sum"))
      .select(col("__z").cast("string").as("node"), col("degree"),
        col("nbr_degree_sum"),
        (col("nbr_degree_sum").cast("double") / col("degree").cast("double"))
          .as("avg_neighbor_degree"))
  }

  /** Degree assortativity coefficient (Newman 2002) — one scalar
    * telling a graph-pipeline owner whether hubs attach to hubs
    * (r > 0, social/community structure) or to leaves (r < 0,
    * hub-and-spoke / spam broadcast): the Pearson correlation of
    * endpoint degrees over all 2m DIRECTED edge slots. Symmetry makes
    * the two marginals identical (Σx = Σy, Σx² = Σy²), so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — NO square root, no libm
    * anywhere: exact integer sums (per-edge arithmetic in
    * decimal(38,0) so a 3e9-degree hub cannot overflow ANSI longs),
    * two decimal→double converts and ONE IEEE division. Converts are
    * exact below 2^53 (the tested regime); above, both engines round
    * to nearest. All-equal-degree graphs have zero variance — defined
    * as r = 0.0 (mirrored in the oracle). Output one row:
    * (m_directed, assortativity). */
  def degreeAssortativity(edges: DataFrame, src: Column,
                          dst: Column): DataFrame = {
    val e0 = canonicalEdges(edges, src, dst)
    val deg = degreeTable(e0)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val de = e0
      .join(deg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
      .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
    val s = de.agg(
      (count(lit(1)) * 2).cast("long").as("m_directed"),
      sum(dec(col("__du")) + dec(col("__dv"))).as("__sx"),
      sum(dec(col("__du")) * dec(col("__du")) +
        dec(col("__dv")) * dec(col("__dv"))).as("__sxx"),
      (sum(dec(col("__du")) * dec(col("__dv"))) * 2).as("__sxy"))
    val m = dec(col("m_directed"))
    val den = m * col("__sxx") - col("__sx") * col("__sx")
    val num = m * col("__sxy") - col("__sx") * col("__sx")
    s.select(col("m_directed"),
      when(den.isNull || den === lit(0), lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("assortativity"))
  }

  /** Fixed-iteration k-core peel — the classic link-farm /
    * comment-spam indicator completing the graph-quality battery next
    * to [[pageRank]]/[[hits]]/[[triangleCounts]]: a dense k-core
    * (every member touching ≥ k other members) is the structural
    * signature of mutual-promotion rings that per-node signals miss.
    * Each round recounts degrees over the SURVIVING edge set and
    * drops nodes below `k` (with every edge touching them); `iters`
    * rounds run regardless of early convergence — the q_pagerank
    * fixed-iteration contract, which is what lets the whole operator
    * unroll into chained CTEs and hash-match the oracle EXACTLY
    * (degrees are integers: no rounding risk at all). A full k-core
    * needs peeling to fixpoint; fixed `iters` is the bounded tier
    * (each round only ever shrinks the set, so survivors are a
    * superset of the true k-core that tightens per round — at
    * convergence-within-iters it IS the k-core, measured: the
    * lineitem bipartite graph converges in 1-3 rounds at k=5).
    *
    * Scale shape per round: one degree aggregate over the slim
    * canonical edge table (map-side partials) + two semi-joins
    * against the kept-node set, which is broadcast under the same
    * row+byte guard as the pageRank/hits state sides (materialized
    * loop state has no stats — left alone Catalyst would
    * sort-merge-join the big edge side every round) with the
    * always-correct shuffled fallback above cap. Edges materialize
    * lazily per round (the components-loop recipe). Output:
    * (node, degree) over the final surviving edge set — isolated
    * nodes cannot appear (degree 0 has no edge). Input edges are
    * canonicalized (self-loops dropped, directions/duplicates
    * merged). */
  /** Truncated core decomposition via the h-index iteration (Lü et
    * al. 2016) — the PER-NODE coreness companion to [[kCore]] (which
    * answers "which nodes survive k" for ONE k; this estimates every
    * node's own core number in one pass family): core⁰(v) = deg(v),
    * coreᵗ⁺¹(v) = H({coreᵗ(u) : u ~ v}) where H is the h-index (the
    * largest h with ≥ h neighbors at value ≥ h). The sequence is
    * monotone NON-INCREASING per node and converges to the true core
    * number; `iters` rounds give a certified UPPER BOUND (documented
    * truncation, the pageRank fixed-iteration convention — real
    * corpora are within 1-2 everywhere by 3-4 rounds).
    *
    * EVERYTHING is integer: degrees, h-indices, comparisons — zero
    * float arithmetic, so the rounds unroll into chained CTEs and
    * hash-match with no margins to profile. The h-index of a
    * DESC-sorted value array is the count of positions i (1-based)
    * with v_i ≥ i — the predicate is monotone along the sort, so the
    * count form is exact and tie-order-independent (both engines
    * count the same multiset).
    *
    * Scale shape: per round one edge⋈state equi-join + one per-node
    * sorted-array aggregate (array bounded by DEGREE — the adjacency
    * contract shared with [[clusteringCoefficients]]; audit with
    * keySkewReport on degree first). Output: (node, coreness). */
  def coreDecomposition(edges: DataFrame, src: Column, dst: Column,
                        iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters $iters outside [1, 8]")
    // r16: long-keyed canonical path when endpoints are integral
    // (canonicalEdgesAuto dispatch) — sound here because every round
    // is a per-NODE aggregate over the undirected edge SET (degrees,
    // h-index of neighbor values): no pair order or orientation is
    // exposed. Node labels cast back to string at the output boundary.
    val e0 = Dedup.materializeLazily(canonicalEdgesAuto(edges, src, dst))
    val sym = Dedup.materializeLazily(
      e0.select(col("__u").as("__a"), col("__v").as("__b"))
        .union(e0.select(col("__v").as("__a"), col("__u").as("__b"))))
    var core = Dedup.materializeLazily(
      sym.groupBy(col("__a").as("__n")).agg(count(lit(1)).as("__c")))
    var it = 0
    while (it < iters) {
      val nb = sym.join(core.select(col("__n").as("__b"), col("__c")),
          Seq("__b"))
        .select(col("__a").as("__n"), col("__c"))
      core = Dedup.materializeLazily(
        nb.groupBy(col("__n"))
          .agg(sort_array(collect_list(col("__c")), asc = false)
            .as("__arr"))
          .select(col("__n"),
            size(filter(zip_with(col("__arr"),
                sequence(lit(1L), size(col("__arr")).cast("long")),
                (v, i) => v >= i), x => x)).cast("long").as("__c")))
      it += 1
    }
    core.select(col("__n").cast("string").as("node"),
      col("__c").as("coreness"))
  }

  /** Theil–Sen robust slope per key — the MAGNITUDE companion to
    * [[mannKendallTrend]] (MK says WHETHER a monotone trend exists;
    * this says HOW STEEP, robust to outliers): the median of all
    * C(n,2) pairwise slopes (x_j − x_i)/(t_j − t_i), i < j by t.
    * Each slope is ONE division of exact operands (value cast double,
    * Δt an exact integer-cast double) — bit-identical cross-engine —
    * and the median is TYPE-1 SELECTION (the [[exactQuantilesBy]]
    * machinery: rank ⌈n/2⌉, no averaging of middles — selection picks
    * an actual computed slope, zero further arithmetic). Pairs via
    * one key-equi self-join (the mannKendallTrend shape, NEVER a
    * cross join); per-key series length is the documented bound
    * (daily/hourly rollups). Keys with n < 2 have no pair and are
    * ABSENT. NULL key/t/x rows drop; `t` unique per key by contract.
    * Output: (keys…, n_pairs, slope). */
  def theilSenSlope(df: DataFrame, t: Column, value: Column,
                    keys: Seq[Column] = Nil): DataFrame = {
    val keyNames = keys.indices.map(i => s"__k$i")
    val v = Dedup.materializeLazily(df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } ++
          Seq(t.cast("long").as("__t"), value.cast("double").as("__x")): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__t").isNotNull && col("__x").isNotNull)(_ && _)))
    val kcols = keyNames.map(col)
    val b = v.select(keyNames.map(c => col(c).as(s"__b$c")) ++
      Seq(col("__t").as("__tb"), col("__x").as("__xb")): _*)
    val cond = keyNames.map(c => col(c) === col(s"__b$c"))
      .foldLeft(col("__tb") > col("__t"))(_ && _)
    // the division is GUARDED by the same predicate as the join
    // condition: downstream isNotNull filters on __s get pushed INTO
    // the join conjunct, where they may evaluate before `__tb > __t`
    // on same-t candidate rows — an unguarded ANSI divide then throws
    // on the Δt = 0 self-pair (hit by the spec; the when() makes the
    // division conditionally evaluated wherever the predicate lands)
    val slopes = v.join(b, cond)
      .select(kcols :+
        when(col("__tb") > col("__t"),
          (col("__xb") - col("__x")) /
            (col("__tb") - col("__t")).cast("double")).as("__s"): _*)
    val med = exactQuantilesBy(slopes, kcols, col("__s"), Seq(0.5))
    val n = slopes.groupBy(kcols: _*).agg(count(lit(1)).as("n_pairs"))
    n.join(med.select(kcols :+ col("value").as("slope"): _*), keyNames)
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++
        Seq(col("n_pairs"), col("slope")): _*)
  }

  /** Sampled betweenness centrality (Brandes 2001 restricted to a
    * seed subset, depth-bounded) — the "who sits on the paths" signal
    * missing next to PageRank/HITS/harmonic/k-core (r14 verdict
    * item 7): exact betweenness is all-pairs; the standard practical
    * estimator (Brandes & Pich 2007) accumulates dependencies from k
    * fixed sources only. Seeds = the FIRST column of `seeds`, cast to
    * string, distinct, intersected with the graph's nodes; k ≤ 64 by
    * contract. BFS is DEPTH-bounded (fixed `depth` rounds, the
    * pageRank fixed-iteration convention) — paths longer than `depth`
    * don't contribute; on small-diameter co-occurrence graphs depth
    * 3-4 covers nearly all shortest paths (document, don't pretend
    * exactness).
    *
    * Forward phase: one frontier-expansion round per depth over the
    * symmetric edge set, keyed (seed, node) — σ (shortest-path
    * counts) accumulate as EXACT decimal(38,0) (path counts grow
    * multiplicatively; longs could overflow on dense graphs).
    * Backward phase: the Brandes dependency recurrence δ(v) =
    * Σ_{w ∈ succ(v)} (σ_v/σ_w)·(1 + δ_w) over the shortest-path DAG
    * (pred table = one state⋈edges⋈state join), one round per depth
    * level in REVERSE — each δ is a w-byte-ORDERED array fold of
    * fixed-order IEEE terms (σ ratios are exact-integer divisions,
    * bit-identical cross-engine; init 0.0 + term ≡ term exactly since
    * terms ≥ +0.0), and the final per-node score folds the per-seed
    * dependencies in seed byte order — NO rounding anywhere, so the
    * whole computation unrolls into chained CTEs and hash-matches.
    *
    * Scale shape: every round is equi-joins + partial-aggregated
    * groupBys on (seed, node) keys — state ≤ k×|V| rows, per-node
    * fold arrays bounded by out-degree (succ lists) and k (seed
    * fold). Nothing all-pairs. Output: (node, betweenness) over
    * nodes REACHED by some seed within `depth` (seeds themselves
    * score their pass-through roles like any node; unreached nodes
    * are absent — document, don't invent zeros). */
  def betweennessCentrality(edges: DataFrame, src: Column, dst: Column,
                            seeds: DataFrame, depth: Int = 3,
                            maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(depth >= 1 && depth <= 6, s"depth $depth outside [1, 6]")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val e0 = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    val sym = Dedup.materializeLazily(
      e0.select(col("__u").as("__a"), col("__v").as("__b"))
        .union(e0.select(col("__v").as("__a"), col("__u").as("__b"))))
    val nodes = sym.select(col("__a").as("__n")).distinct()
    val sd = Dedup.materializeLazily(
      seeds.select(col(seeds.columns.head).cast("string").as("__seed"))
        .where(col("__seed").isNotNull).distinct()
        .join(nodes.select(col("__n").as("__seed")), Seq("__seed"),
          "left_semi"))
    val nSeeds = sd.count()
    require(nSeeds >= 1 && nSeeds <= 64,
      s"betweennessCentrality seed count $nSeeds outside [1, 64]")
    // forward BFS: state (seed, v, dist, sigma)
    var state = Dedup.materializeLazily(
      sd.select(col("__seed"), col("__seed").as("__v"),
        lit(0).as("__dist"), dec(lit(1L)).as("__sig")))
    var frontier = state
    var d = 1
    while (d <= depth) {
      val expanded = frontier
        .join(sym, frontier("__v") === sym("__a"))
        .groupBy(col("__seed"), col("__b").as("__nv"))
        .agg(sum(col("__sig")).as("__sig"))
        .select(col("__seed"), col("__nv").as("__v"), col("__sig"))
      val novel = Dedup.materializeLazily(
        expanded.join(state.select(col("__seed"), col("__v")),
            Seq("__seed", "__v"), "left_anti")
          .select(col("__seed"), col("__v"), lit(d).as("__dist"),
            col("__sig")))
      state = Dedup.materializeLazily(state.union(novel))
      frontier = novel
      d += 1
    }
    // shortest-path DAG: pred edge (v at dist p) -> (w at dist p+1),
    // one explicit three-way equi-join (seed, edge endpoint, depth+1)
    val swT = state.select(col("__seed").as("__ws"), col("__v").as("__w"),
      col("__dist").as("__wd"), col("__sig").as("__sw"))
    val pred = Dedup.materializeLazily(
      state.select(col("__seed"), col("__v").as("__pv"),
          col("__dist").as("__pd"), col("__sig").as("__sv"))
        .join(sym, col("__pv") === col("__a"))
        .join(swT, col("__seed") === col("__ws") &&
          col("__b") === col("__w") &&
          col("__wd") === col("__pd") + 1)
        .select(col("__seed"), col("__pv"), col("__pd"), col("__sv"),
          col("__w"), col("__sw")))
    // backward accumulation, one round per level in reverse; delta
    // holds ONLY the previous (deeper) level between rounds. The
    // deepest level's zeros ARE contributions — those nodes were
    // reached and must appear in the output (bc possibly 0.0)
    var delta = Dedup.materializeLazily(
      state.where(col("__dist") === depth)
        .select(col("__seed"), col("__v"), lit(0.0).as("__del")))
    val contribs = scala.collection.mutable.ListBuffer[DataFrame](delta)
    var lvl = depth - 1
    while (lvl >= 0) {
      val nd = pred.where(col("__pd") === lvl)
        .join(delta.select(col("__seed"), col("__v").as("__w"),
          col("__del")), Seq("__seed", "__w"))
        .select(col("__seed"), col("__pv"), col("__w"),
          ((col("__sv").cast("double") / col("__sw").cast("double")) *
            (lit(1.0) + col("__del"))).as("__term"))
        .groupBy(col("__seed"), col("__pv"))
        .agg(sort_array(collect_list(struct(col("__w"), col("__term"))))
          .as("__arr"))
        .select(col("__seed"), col("__pv").as("__v"),
          aggregate(col("__arr"), lit(0.0),
            (acc, x) => acc + x.getField("__term")).as("__del"))
      val zerod = state.where(col("__dist") === lvl)
        .join(nd.select(col("__seed"), col("__v")), Seq("__seed", "__v"),
          "left_anti")
        .select(col("__seed"), col("__v"), lit(0.0).as("__del"))
      delta = Dedup.materializeLazily(nd.union(zerod))
      contribs += delta
      lvl -= 1
    }
    // bc(v) = Σ_s δ_s(v) for v ≠ s, folded in seed byte order — the
    // Brandes "if w ≠ s" exclusion: the recurrence DOES compute a
    // (large) δ_s(s) at dist 0, which is the dependency of s on its
    // own paths and never counts; s's genuine betweenness accrues
    // under OTHER seeds' accumulations. ZEROED rather than filtered:
    // a seed reached only by itself still belongs in the output
    // (bc 0.0), and +0.0 terms are exact identities in the fold
    val all = contribs.reduce(_ union _)
      .select(col("__seed"), col("__v"),
        when(col("__v") === col("__seed"), lit(0.0))
          .otherwise(col("__del")).as("__del"))
    all.groupBy(col("__v"))
      .agg(sort_array(collect_list(struct(col("__seed"), col("__del"))))
        .as("__sarr"))
      .select(col("__v").as("node"),
        aggregate(col("__sarr"), lit(0.0),
          (acc, x) => acc + x.getField("__del")).as("betweenness"))
  }

  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
            iters: Int = 3, maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(iters >= 1, s"iters $iters must be >= 1")
    var e = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    var it = 0
    while (it < iters) {
      e = kCorePeelRound(e, k, maxBroadcastNodes)
      it += 1
    }
    kCoreDegrees(e)
  }

  /** One peel round: recount degrees over the surviving edges, drop
    * nodes (and their edges) below `k`. Returns the lazily
    * checkpointed surviving edge set. */
  private def kCorePeelRound(e: DataFrame, k: Int,
                             maxBroadcastNodes: Long): DataFrame = {
    val deg = e.select(col("__u").as("__n"))
      .union(e.select(col("__v").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val keep = Dedup.materializeLazily(deg.where(col("__d") >= k))
    val kstats = keep.agg(count(lit(1)),
      coalesce(avg(length(col("__n"))), lit(0.0))).head()
    val small = stateBroadcastOk(kstats.getLong(0).toDouble,
      kstats.getDouble(1), maxBroadcastNodes)
    def hinted(df: DataFrame) = if (small) broadcast(df) else df
    Dedup.materializeLazily(
      e.join(hinted(keep.select(col("__n").as("__u"))), Seq("__u"), "left_semi")
        .join(hinted(keep.select(col("__n").as("__v"))), Seq("__v"), "left_semi"))
  }

  private def kCoreDegrees(e: DataFrame): DataFrame =
    e.select(col("__u").as("__n")).union(e.select(col("__v").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("degree"))
      .select(col("__n").as("node"), col("degree"))

  /** [[kCore]] peeled to FIXPOINT with early exit — the form to run
    * at 100 TB, where guessing `iters` is expensive in both
    * directions (too few: not the k-core; too many: wasted full-graph
    * rounds). The surviving-edge count is monotone non-increasing
    * and each round's count is one scalar on a state that the next
    * round must materialize anyway, so convergence detection is
    * free: an unchanged count means the round dropped nothing, i.e.
    * every surviving node already has degree ≥ k — the k-core
    * fixpoint. Output adds constant audit columns `converged`
    * (false only if `maxIters` truncated the peel) and `rounds`
    * (peel rounds run, including the no-op round that proved the
    * fixpoint). The fixed-iteration [[kCore]] stays the oracle tier
    * (q_kcore); this is the declared driver-looped form, spec'd by
    * fixpoint equality on planted peel cascades. */
  def kCoreConverged(edges: DataFrame, src: Column, dst: Column, k: Int,
                     maxIters: Int = 50,
                     maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(maxIters >= 1, s"maxIters $maxIters must be >= 1")
    var e = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    var prev = e.count()
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      e = kCorePeelRound(e, k, maxBroadcastNodes)
      val n = e.count()
      if (n == prev) converged = true
      prev = n
      it += 1
    }
    kCoreDegrees(e)
      .withColumn("converged", lit(converged))
      .withColumn("rounds", lit(it))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected SIMPLE graph — the near-linear community-detection
    * pass web-curation pipelines use to group mutually-linked hosts
    * (link farms surface as dense same-label blobs). Each round every
    * node simultaneously takes the most frequent label among its
    * neighbors; ties break to the LEXICOGRAPHICALLY SMALLEST label
    * (UTF8 byte order — ASCII-safe cross-engine, the PhraseMatches
    * convention), labels init to the node's own id, and edges are
    * canonicalized (self-loops dropped, directions/duplicates merged —
    * multi-edges do NOT weight votes, by declared design). Integer
    * votes + total order on labels = fully deterministic with NO
    * rounding anywhere, so a fixed iteration count unrolls into
    * chained CTEs and hash-matches a DuckDB replay (q_label_prop).
    *
    * Shapes: the symmetric edge list materializes once; per round ONE
    * state join against it (label side broadcast under the
    * [[pageRank]] row+byte guard so the big static edge table never
    * reshuffles; shuffled fallback above the cap) + two
    * partial-aggregated narrow aggregates (vote counts, then the
    * per-node argmax as `min(struct(-votes, label))` — no window, so
    * hot nodes stay map-side combinable). Per-round state is lazily
    * checkpointed (the components-loop recipe). Synchronous updates
    * can 2-cycle on bipartite blocks — a fixed `iters` makes that
    * deterministic rather than divergent. */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
                       iters: Int = 3,
                       maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    // r16 probe: a long-keyed variant (labels as longs, tie-break via
    // cast(label as string) inside the argmax, winner cast back) was
    // measured and REJECTED — the per-VOTE-ROW long→string render in
    // the argmax cost 10-23% on q_label_prop/q_modularity while the
    // halved key bytes bought nothing locally (order-alternating
    // TimeQ + two clean benches; bench/abprobe_labelprop_r16.txt).
    // Unlike coreDecomposition/kmvBallStates (kept long — no
    // per-element cast anywhere), the label IS the comparison value
    // here, so the string materializes per row either way.
    val e0 = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    val sym = Dedup.materializeLazily(
      e0.select(col("__u").as("__s"), col("__v").as("__d"))
        .union(e0.select(col("__v").as("__s"), col("__u").as("__d"))))
    var labels = Dedup.materializeLazily(
      sym.select(col("__s").as("__n")).distinct()
        .select(col("__n"), col("__n").as("__lbl")))
    val nstats = labels.agg(count(lit(1)),
      coalesce(avg(length(col("__n"))), lit(0.0))).head()
    // a label row carries two node-id-width strings
    val hinted: DataFrame => DataFrame =
      if (stateBroadcastOk(nstats.getLong(0).toDouble,
          2.0 * nstats.getDouble(1), maxBroadcastNodes))
        df => broadcast(df)
      else df => df
    var it = 0
    while (it < iters) {
      val votes = sym.join(hinted(labels), col("__d") === col("__n"))
        .groupBy(col("__s"), col("__lbl")).agg(count(lit(1)).as("__c"))
      labels = Dedup.materializeLazily(
        votes.groupBy(col("__s"))
          .agg(min(struct((-col("__c")).as("__negc"),
            col("__lbl").as("__winner"))).as("__m"))
          .select(col("__s").as("__n"),
            col("__m").getField("__winner").as("__lbl")))
      it += 1
    }
    labels.select(col("__n").as("node"), col("__lbl").as("label"))
  }

  /** Weighted label propagation — [[labelPropagation]] with votes =
    * Σ edge weight instead of neighbor count (the natural consumer of
    * [[coOccurrenceEdges]]' instance-count weights: a 50-shared-order
    * co-purchase link should out-vote five 2-shared-order ones).
    * Weights are integers ≥ 1 and SUM over merged duplicate/direction
    * rows ([[canonicalEdgesWeighted]]), so (u, v, w) ≡ w parallel
    * (u, v, 1) rows exactly — spec-asserted against the replicated
    * form. Votes stay exact longs and ties break on the label's byte
    * order, so the whole operator keeps the unweighted form's
    * NO-rounding determinism and unrolls into the same chained-CTE
    * oracle with `count(*)` swapped for `sum(w)` (q_label_prop_weighted).
    * Same per-round shapes: one broadcast-guarded state join + two
    * partial-aggregated aggregates, lazily checkpointed state. */
  def labelPropagationWeighted(edges: DataFrame, src: Column, dst: Column,
                               weight: Column, iters: Int = 3,
                               maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    // r16: long-keyed variant probed and REJECTED (see
    // labelPropagation — same per-vote-row cast cost)
    val e0 = Dedup.materializeLazily(
      canonicalEdgesWeighted(edges, src, dst, weight))
    val sym = Dedup.materializeLazily(
      e0.select(col("__u").as("__s"), col("__v").as("__d"), col("__w"))
        .union(e0.select(col("__v").as("__s"), col("__u").as("__d"),
          col("__w"))))
    var labels = Dedup.materializeLazily(
      sym.select(col("__s").as("__n")).distinct()
        .select(col("__n"), col("__n").as("__lbl")))
    val nstats = labels.agg(count(lit(1)),
      coalesce(avg(length(col("__n"))), lit(0.0))).head()
    val hinted: DataFrame => DataFrame =
      if (stateBroadcastOk(nstats.getLong(0).toDouble,
          2.0 * nstats.getDouble(1), maxBroadcastNodes))
        df => broadcast(df)
      else df => df
    var it = 0
    while (it < iters) {
      val votes = sym.join(hinted(labels), col("__d") === col("__n"))
        .groupBy(col("__s"), col("__lbl")).agg(sum(col("__w")).as("__c"))
      labels = Dedup.materializeLazily(
        votes.groupBy(col("__s"))
          .agg(min(struct((-col("__c")).as("__negc"),
            col("__lbl").as("__winner"))).as("__m"))
          .select(col("__s").as("__n"),
            col("__m").getField("__winner").as("__lbl")))
      it += 1
    }
    labels.select(col("__n").as("node"), col("__lbl").as("label"))
  }

  /** One-level Louvain-style modularity optimization (Blondel et al.
    * 2008, the local-move phase; no graph coarsening) — the
    * modularity-ASCENDING community detector next to
    * [[labelPropagationWeighted]] (LPA is vote-based and blind to Q;
    * on weighted co-purchase graphs greedy gain moves find strictly
    * better partitions — spec-gated Q(louvain) ≥ Q(LPA)).
    *
    * Each of `sweeps` SYNCHRONOUS rounds moves every node to the
    * candidate community (its neighbors' communities ∪ its own) with
    * the best modularity gain. Evaluating node i against community c
    * with i notionally removed from its own community, the standard
    * gain comparison reduces (constant terms dropped) to maximizing
    *   g(c) = 2W·k_{i,in}(c) − k_i·(Σtot(c) − [c = own]·k_i)
    * which is EXACT integer arithmetic in decimal(38,0) (weights are
    * integers ≥ 1 via [[weightGuard]]; W = Σw, k_i = weighted degree,
    * Σtot(c) = Σ k over members, k_{i,in}(c) = Σ w(i,j) for j ∈ c).
    * Ties keep the CURRENT community when it attains the max, else
    * break on community-label byte order. Synchronous sweeps suffer
    * the classic SWAP/CHASE cycles (two mutually-best singletons move
    * into each other's label forever; and a node chases a singleton
    * community whose sole member is simultaneously leaving — both
    * traced as period-2 cycles on a two-triangle graph). The
    * symmetry-break is a strengthened minimum-label heuristic (after
    * Lu, Halappanavar & Kalyanaraman 2015's singleton minimum-label
    * rule, widened from singleton→singleton to any→singleton after
    * the chase cycle survived the narrow form): a node may move into
    * a SINGLETON community only when that community's label is
    * byte-order SMALLER than the node's CURRENT community label —
    * larger-labeled singleton candidates are excluded before the
    * argmax (the smaller-label side attracts; the larger waits a
    * sweep). Fully deterministic, NO rounding anywhere, so fixed
    * sweeps unroll into chained CTEs with HUGEINT gains and the
    * oracle hash-matches exactly.
    *
    * Scale shape per sweep (the [[labelPropagationWeighted]] shapes):
    * one broadcast-guarded state join + three partial-aggregated
    * aggregates (Σtot, k_in, per-node argmax); state lazily
    * checkpointed. Synchronous moves mean Σtot is one sweep stale —
    * the standard parallel-Louvain tradeoff (fixed sweeps bound it;
    * the Q gate is asserted empirically in spec). Output:
    * (node, community). */
  def louvainCommunities(edges: DataFrame, src: Column, dst: Column,
                         weight: Column = lit(1L), sweeps: Int = 3,
                         maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(sweeps >= 1, s"sweeps $sweeps must be >= 1")
    val e0 = Dedup.materializeLazily(
      canonicalEdgesWeighted(edges, src, dst, weight))
    val sym = Dedup.materializeLazily(
      e0.select(col("__u").as("__s"), col("__v").as("__d"), col("__w"))
        .union(e0.select(col("__v").as("__s"), col("__u").as("__d"),
          col("__w"))))
    // weighted degree k_i (exact long) + total weight W (driver scalar)
    val kTab = Dedup.materializeLazily(
      sym.groupBy(col("__s").as("__n")).agg(sum(col("__w")).as("__k")))
    val w2 = e0.agg(coalesce(sum(col("__w")), lit(0L))).head().getLong(0)
    require(w2 > 0, "louvainCommunities needs at least one non-loop edge")
    louvainSweepLoop(sym, kTab, w2, sweeps, maxBroadcastNodes)
      .select(col("__n").as("node"), col("__c").as("community"))
  }

  /** The shared local-move engine behind [[louvainCommunities]] and
    * [[louvainMultiLevel]]: `sweeps` synchronous best-gain sweeps over
    * a SYMMETRIC inter-node edge table (`__s`,`__d`,`__w` — self-loops
    * must already be EXCLUDED; they never contribute k_in) against a
    * degree table (`__n`,`__k`) and total weight `w2`. At a COARSE
    * level the degree table carries the super-node's FULL weighted
    * degree including 2× its internal (self-loop) weight, while the
    * symmetric table carries only inter-super-node edges — the
    * self-loop weight is community-invariant (it moves WITH the node),
    * so it cancels in the gain COMPARISON but must appear in k_i and
    * Σtot, which is exactly this split of inputs. Labels initialize to
    * identity. Returns (__n, __c). */
  private def louvainSweepLoop(sym: DataFrame, kTab: DataFrame, w2: Long,
                               sweeps: Int,
                               maxBroadcastNodes: Long): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    var labels = Dedup.materializeLazily(
      kTab.select(col("__n"), col("__n").as("__c")))
    val nstats = labels.agg(count(lit(1)),
      coalesce(avg(length(col("__n"))), lit(0.0))).head()
    val hinted: DataFrame => DataFrame =
      if (stateBroadcastOk(nstats.getLong(0).toDouble,
          2.0 * nstats.getDouble(1), maxBroadcastNodes))
        df => broadcast(df)
      else df => df
    var it = 0
    while (it < sweeps) {
      // Σtot + community size in ONE aggregate (size drives the
      // singleton-swap exclusion below)
      val stot = labels.join(kTab, Seq("__n"))
        .groupBy(col("__c")).agg(sum(col("__k")).as("__tot"),
          count(lit(1)).as("__sz"))
      // k_in per (node, neighbor community) — one shuffle on node
      val kin = sym.join(hinted(labels.select(col("__n").as("__d"),
          col("__c").as("__cd"))), Seq("__d"))
        .groupBy(col("__s").as("__n"), col("__cd"))
        .agg(sum(col("__w")).as("__kin"))
      // candidates = neighbor communities ∪ own (own always present,
      // k_in(own) = 0 when no neighbor shares it); a duplicate own row
      // carries the true k_in — max() keeps it over the 0 seed
      val cand = kin
        .union(labels.select(col("__n"), col("__c").as("__cd"),
          lit(0L).as("__kin")))
        .groupBy(col("__n"), col("__cd")).agg(max(col("__kin")).as("__kin"))
      val gains = cand
        .join(hinted(labels.select(col("__n"), col("__c").as("__own"))),
          Seq("__n"))
        .join(kTab, Seq("__n"))
        .join(stot.select(col("__c").as("__cd"), col("__tot"), col("__sz")),
          Seq("__cd"))
        // strengthened minimum-label rule: nobody joins a
        // LARGER-labeled singleton community (kills the mutual swap
        // AND the chase-a-departing-node relay; the own row has
        // __cd === __own, never strictly greater, so it survives)
        .where(!(col("__sz") === 1L && col("__cd") > col("__own")))
        .select(col("__n"), col("__cd"), col("__own"),
          // 2W in decimal BEFORE the multiply — a driver-side 2*w2
          // long could silently wrap at the extreme
          (dec(lit(w2)) * lit(2).cast("decimal(38,0)") * dec(col("__kin")) -
            dec(col("__k")) *
            (dec(col("__tot")) -
              when(col("__cd") === col("__own"), dec(col("__k")))
                .otherwise(dec(lit(0L))))).as("__g"))
      labels = Dedup.materializeLazily(gains
        .groupBy(col("__n"), col("__own"))
        .agg(min(struct((-col("__g")).as("__negg"),
            col("__cd").as("__cand"))).as("__m"),
          max(when(col("__cd") === col("__own"), col("__g"))).as("__gown"))
        .select(col("__n"),
          when(col("__gown") === -col("__m").getField("__negg"), col("__own"))
            .otherwise(col("__m").getField("__cand")).as("__c")))
      it += 1
    }
    labels
  }

  /** Multi-level Louvain (Blondel et al. 2008, the FULL two-phase
    * method): [[louvainCommunities]] is explicitly the local-move
    * phase only; this adds the COARSENING phase where Louvain's real
    * quality comes from — after each level's sweeps, communities
    * collapse to super-nodes and the local move re-runs on the coarse
    * graph, merging whole communities that one-level moves (one node
    * at a time, each meeting the singleton-label guard) cannot.
    *
    * Coarsening is EXACT integer bookkeeping, so the unrolled-CTE
    * oracle recipe extends unchanged: super-edge weight = Σ
    * inter-community edge weight (canonical least/greatest on the
    * community labels); super-node degree = Σ member degrees (each
    * internal edge contributes 2w — the self-loop convention — and
    * each boundary edge w, so the MEMBER-DEGREE SUM is the correct
    * coarse k_i with no separate self-loop table); total weight W is
    * INVARIANT under coarsening (computed once). The self-loop weight
    * itself never enters k_in — it moves with the super-node, cancels
    * in the gain comparison, and is therefore deliberately absent
    * from the symmetric edge table ([[louvainSweepLoop]]'s input
    * split). Communities with no external edge simply have no
    * candidates and stay put.
    *
    * Labels map back through every level (node → c₁ → c₂ → …), so the
    * output community ids are level-1 community labels = node ids —
    * byte-order determinism end to end, NO rounding anywhere, exact
    * decimal(38,0)/HUGEINT gains at every level.
    *
    * MONOTONE GUARD: synchronous sweeps do not guarantee the
    * sequential method's monotone modularity (a coarse-level label
    * chase can end mid-flight worse than it started), so each coarse
    * level's mapped-back partition is ACCEPTED only if it STRICTLY
    * improves S(P) = Σ_c (4W·in_c − tot_c²) on the ORIGINAL graph —
    * S/(4W²) = Q exactly, and S is pure decimal(38,0) integer
    * arithmetic, so the guard is deterministic and replayable as one
    * oracle CASE. A rejected level keeps the previous labels and
    * stops (re-running the same sweeps would re-derive the identical
    * rejected candidate). Q(multi) ≥ Q(one-level) is therefore a
    * THEOREM of the construction; ≥ Q(LPA) stays the empirical
    * spec gate inherited from [[louvainCommunities]].
    *
    * Scale shape: level 1 is [[louvainCommunities]]'s shapes; each
    * coarsening is two label joins + one partial-aggregated groupBy
    * on the (much smaller) community pair set, the guard is two more
    * label joins + scalar folds, and every later level runs on a
    * graph at most as large as the community count — strictly
    * cheaper per level. levels ≤ 4 by contract (real corpora
    * converge by 2-3). Output: (node, community). */
  def louvainMultiLevel(edges: DataFrame, src: Column, dst: Column,
                        weight: Column = lit(1L), sweeps: Int = 3,
                        levels: Int = 2,
                        maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(sweeps >= 1, s"sweeps $sweeps must be >= 1")
    require(levels >= 1 && levels <= 4, s"levels $levels outside [1, 4]")
    val e0 = Dedup.materializeLazily(
      canonicalEdgesWeighted(edges, src, dst, weight))
    val sym0 = Dedup.materializeLazily(
      e0.select(col("__u").as("__s"), col("__v").as("__d"), col("__w"))
        .union(e0.select(col("__v").as("__s"), col("__u").as("__d"),
          col("__w"))))
    var kTab = Dedup.materializeLazily(
      sym0.groupBy(col("__s").as("__n")).agg(sum(col("__w")).as("__k")))
    // W is invariant under coarsening: every original edge lands in
    // exactly one super-edge or one community self-loop
    val w2 = e0.agg(coalesce(sum(col("__w")), lit(0L))).head().getLong(0)
    require(w2 > 0, "louvainMultiLevel needs at least one non-loop edge")
    val kTab0 = kTab
    def dec(c: Column) = c.cast("decimal(38,0)")
    // S(P) = Σ_c (4W·in_c − tot_c²) over the ORIGINAL graph — exact
    // decimal(38,0); S/(4W²) = Q, so integer compares order partitions
    // by modularity with zero rounding anywhere
    def sOf(lab: DataFrame): java.math.BigDecimal = {
      val inTab = e0
        .join(lab.select(col("__n").as("__u"), col("__c").as("__cu")),
          Seq("__u"))
        .join(lab.select(col("__n").as("__v"), col("__c").as("__cv")),
          Seq("__v"))
        .where(col("__cu") === col("__cv"))
        .groupBy(col("__cu").as("__c")).agg(sum(col("__w")).as("__in"))
      val totTab = lab.join(kTab0, Seq("__n"))
        .groupBy(col("__c")).agg(sum(col("__k")).as("__tot"))
      totTab.join(inTab, Seq("__c"), "left")
        .select((dec(lit(4L)) * dec(lit(w2)) *
          dec(coalesce(col("__in"), lit(0L))) -
          dec(col("__tot")) * dec(col("__tot"))).as("__s"))
        .agg(coalesce(sum(col("__s")), lit(0L).cast("decimal(38,0)")))
        .head().getDecimal(0)
    }
    // node → community-so-far; starts as the level-1 result. curLab
    // is the SAME partition expressed on the current (coarse) node
    // space — the one the next coarsening must join against
    var mapping = Dedup.materializeLazily(
      louvainSweepLoop(sym0, kTab, w2, sweeps, maxBroadcastNodes))
    var curLab = mapping
    var sCur = if (levels > 1) sOf(mapping) else null
    var curEdges = e0
    var lvl = 2
    var stopped = false
    while (lvl <= levels && !stopped) {
      val asU = curLab.select(col("__n").as("__u"), col("__c").as("__cu"))
      val asV = curLab.select(col("__n").as("__v"), col("__c").as("__cv"))
      val ce = curEdges.join(asU, Seq("__u")).join(asV, Seq("__v"))
      // inter-community super-edges, canonical on the labels
      val se = Dedup.materializeLazily(
        ce.where(col("__cu") =!= col("__cv"))
          .select(least(col("__cu"), col("__cv")).as("__u"),
            greatest(col("__cu"), col("__cv")).as("__v"), col("__w"))
          .groupBy(col("__u"), col("__v")).agg(sum(col("__w")).as("__w")))
      val sym2 = Dedup.materializeLazily(
        se.select(col("__u").as("__s"), col("__v").as("__d"), col("__w"))
          .union(se.select(col("__v").as("__s"), col("__u").as("__d"),
            col("__w"))))
      // coarse degree = Σ member degrees (internal edges count twice
      // by construction — both endpoints are members)
      val kTab2 = Dedup.materializeLazily(
        curLab.join(kTab, Seq("__n"))
          .groupBy(col("__c").as("__n")).agg(sum(col("__k")).as("__k")))
      val lab2 = louvainSweepLoop(sym2, kTab2, w2, sweeps, maxBroadcastNodes)
      val cand = Dedup.materializeLazily(
        mapping.select(col("__n"), col("__c").as("__c1"))
          .join(lab2.select(col("__n").as("__c1"), col("__c")), Seq("__c1"))
          .select(col("__n"), col("__c")))
      val sCand = sOf(cand)
      // monotone guard: STRICT improvement or keep-and-stop — the
      // same sweeps from the kept labels would re-derive the same
      // rejected candidate, so continuing is pure waste
      if (sCand.compareTo(sCur) > 0) {
        mapping = cand
        curLab = lab2
        sCur = sCand
        curEdges = se
        kTab = kTab2
      } else stopped = true
      lvl += 1
    }
    mapping.select(col("__n").as("node"), col("__c").as("community"))
  }

  /** Personalized PageRank: [[pageRank]] with the teleport vector
    * concentrated uniformly on a seed set — the seed-relevance
    * propagation used to extend a trusted domain list (TrustRank,
    * Gyöngyi et al. 2004) or score crawl candidates by proximity to
    * known-good hosts. Seeds = the FIRST column of `seeds`, cast to
    * string, distinct, and intersected with the graph's nodes (mass
    * never teleports off-graph). Dangling mass redistributes
    * UNIFORMLY over ALL nodes each round (the Langville–Meyer
    * convention), NOT over the seeds — deliberately: besides being
    * the standard stochastic-matrix completion, the uniform dm/n term
    * is an infinite-decimal additive on EVERY node, which scatters
    * the per-round values off the 12-decimal grid. (The seed-restart
    * variant leaves non-seed values as finite-decimal chains of
    * rounded-rank/degree quotients, and the r12 DuckDB profile
    * measured one such raw value within HALF an ulp of a .5×10⁻¹²
    * HALF_UP boundary — a real cross-engine hash hazard; the uniform
    * form profiles ≥ 1.26e-16 at sf0.01 / ≥ 4.2e-17 at sf0.1, both
    * ≥ ~1e4 ulps of their values, the q_pagerank safety band.)
    * Same per-round round(…, 12) + unrolled-CTE oracle recipe and the
    * same two loop shapes as [[pageRank]]: over dense node ids, one
    * Spark job per round, while the rank state fits the broadcast
    * guard; the shuffled SQL loop above it. The seed set is read in
    * one more job (dense) or intersected by a semi-join (shuffled);
    * every edge has weight 1. In a graph
    * with NO reachable dangling mass, nodes unreachable from the
    * seeds in ≤ `iters` hops hold rank exactly 0.0 (there is no
    * uniform term to leak them mass); once dm > 0 every node is
    * nonzero. Output: (node, rank). */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
                           seeds: DataFrame, iters: Int = 3,
                           damping: Double = 0.85,
                           maxBroadcastNodes: Long = 8000000L): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(damping >= 0 && damping <= 1, s"damping $damping outside [0,1]")
    rankLoop("personalizedPageRank", edges.select(src.cast("string").as("__s"),
        dst.cast("string").as("__d"), lit(1L).as("__wt")),
      Some(seeds), iters, damping, maxBroadcastNodes)
  }

  /** Domain-shift report between two slices of one corpus: the
    * add-α-smoothed unigram KL divergence KL(P‖Q) that guides mixture
    * reweighting (the quantity DSIR's importance weights integrate;
    * a KL near 0 says slice Q already covers P's token distribution,
    * a large KL flags a domain the mix underrepresents). P = rows
    * where `isP`, Q = the rest; `toks` supplies the unit (words,
    * bigrams, code-point n-grams). Only Q is smoothed — q(w) =
    * (c_q(w)+α)/(N_q+α·|V|) over the UNION vocabulary — so P's zero
    * counts drop out of the sum exactly.
    *
    * Cross-engine exactness: each vocabulary term is scaled by 1e9,
    * HALF_UP-rounded to a BIGINT, and summed as INTEGERS — the sum is
    * exact and order-independent, so the output is a pure function of
    * the count table no matter how either engine partitions or orders
    * the reduction (the KMV-estimate recipe). The only fp risk is a
    * term within ~its own ulp of a .5×10⁻⁹ boundary; the r12 fixture
    * profile (bigrams over documents) measures min boundary distance
    * 1.7e-3 grid units at sf0.01 / 1.4e-4 at sf0.1 vs a cross-libm
    * ln() wobble ≤ ~3e-10 grid units — 6 orders clear. `kl_nats`
    * decodes the integer with ONE IEEE division (exact cross-engine).
    *
    * Shapes: one explode + ONE vocabulary-keyed aggregate with
    * conditional partial sums (both corpus passes fused); everything
    * after is vocabulary-sized. The three scalar totals are one
    * 1-row driver aggregate. Output one row: (np, nq, vocab,
    * oov_tokens, kl_scaled, kl_nats) — oov_tokens = P-mass on tokens
    * Q has never seen (the coverage hole count). */
  def unigramShiftReport(docs: DataFrame, isP: Column, toks: Column,
                         alpha: Long = 1L): DataFrame = {
    require(alpha >= 1, s"alpha $alpha must be >= 1")
    val tok = docs.select(isP.cast("boolean").as("__isp"),
      explode(toks).as("__w"))
    val cnt = Dedup.materializeLazily(
      tok.groupBy(col("__w")).agg(
        sum(when(col("__isp"), 1L).otherwise(0L)).as("__cp"),
        sum(when(col("__isp"), 0L).otherwise(1L)).as("__cq")))
    val tots = cnt.agg(coalesce(sum(col("__cp")), lit(0L)),
      coalesce(sum(col("__cq")), lit(0L)), count(lit(1))).head()
    val np = tots.getLong(0); val nq = tots.getLong(1)
    val v = tots.getLong(2)
    require(np > 0 && nq > 0,
      s"unigramShiftReport needs tokens on both sides (np=$np nq=$nq)")
    // association mirrors the oracle exactly: ((p·(Nq+αV))/(cq+α)),
    // then p·ln(…) — every operand an exact integer-to-double convert
    val pw = col("__cp").cast("double") / lit(np.toDouble)
    val kt = pw * log(pw * lit((nq + alpha * v).toDouble) /
      (col("__cq") + lit(alpha)).cast("double"))
    cnt.where(col("__cp") > 0)
      .agg(sum(when(col("__cq") === 0, col("__cp")).otherwise(0L))
          .as("oov_tokens"),
        sum(round(kt * lit(1e9)).cast("long")).as("kl_scaled"))
      .select(lit(np).as("np"), lit(nq).as("nq"), lit(v).as("vocab"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("kl_scaled"), lit(0L)).as("kl_scaled"),
        (coalesce(col("kl_scaled"), lit(0L)).cast("double") / lit(1e9))
          .as("kl_nats"))
  }

  /** Misra-Gries summary (Misra & Gries 1982): at most `k - 1`
    * counters; any item with true frequency > N/k is guaranteed to
    * survive, under ANY reduce/merge order (mergeability per Agarwal
    * et al., "Mergeable Summaries", PODS 2012 — merge sums counters
    * then subtracts the k-th largest count from all). The candidate
    * SET beyond that guarantee is order-dependent, which is why
    * [[heavyHitters]] always re-counts exactly — the final output is
    * deterministic regardless of partitioning. */
  private final class MisraGriesAgg(k: Int)
      extends Aggregator[String, scala.collection.mutable.HashMap[String, Long],
        Seq[String]] {
    private type Buf = scala.collection.mutable.HashMap[String, Long]
    override def zero: Buf = new Buf
    // in-place mutation: this aggregate by design touches EVERY token
    // at corpus scale, and an immutable updated-copy per row was the
    // one measurable allocation in it (r10 verdict nit). Aggregator
    // buffers may mutate as long as `zero` returns a fresh instance.
    override def reduce(b: Buf, item: String): Buf = {
      b.get(item) match {
        case Some(c) => b.update(item, c + 1L)
        case None if b.size < k - 1 => b.update(item, 1L)
        // full and absent: decrement every counter (the new item and
        // one unit of each counter annihilate), drop zeros — O(k),
        // the classic MG amortized cost
        case None =>
          b.mapValuesInPlace((_, v) => v - 1L)
          b.filterInPlace((_, v) => v > 0L)
      }
      b
    }
    override def merge(a: Buf, b: Buf): Buf = {
      b.foreach { case (kk, v) => a.update(kk, a.getOrElse(kk, 0L) + v) }
      if (a.size > k - 1) {
        // subtract the k-th largest counter value from all: at most
        // k-1 counters can exceed it, so the result fits the bound
        val kth = a.valuesIterator.toArray.sortBy(-_).apply(k - 1)
        a.mapValuesInPlace((_, v) => v - kth)
        a.filterInPlace((_, v) => v > 0L)
      }
      a
    }
    override def finish(b: Buf): Seq[String] = b.keys.toSeq.sorted
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Seq[String]] =
      ExpressionEncoder[Seq[String]]()
  }

  /** EXACT quantiles of a numeric column without a global sort — the
    * distribution pre-flight (sequence-length percentiles, score
    * cutoffs) where `percentile_approx` won't do because the number
    * feeds a reproducible gate. Type-1 (lower order-statistic)
    * quantiles: rank k = clamp(ceil(p·n), 1, n) — pure SELECTION, no
    * interpolation arithmetic, so the returned values are bit-exact
    * in any engine.
    *
    * Scale shape (the hashRank/prCurve chunk recipe aimed at VALUE
    * order): one stats pass, one per-chunk count aggregate (≤ chunks
    * rows to the driver), then ONE window over only the chunks that
    * contain a requested rank — each a ~n/chunks-row local sort, no
    * single-partition global sort. A point-mass distribution
    * degenerates one chunk to a large local sort (any exact selection
    * pays it somewhere); the all-equal case short-circuits entirely.
    * Output: (prob, value, rank), ordered by prob. */
  def exactQuantiles(df: DataFrame, value: Column, probs: Seq[Double],
                     chunks: Int = 256): DataFrame = {
    require(probs.nonEmpty, "exactQuantiles needs at least one prob")
    require(probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be in (0, 1], got $probs")
    require(chunks >= 1, s"chunks $chunks must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = Dedup.materializeLazily(
      df.select(value.cast("double").as("__x")).where(col("__x").isNotNull))
    val st = v.agg(min(col("__x")), max(col("__x")), count(lit(1))).head()
    if (st.isNullAt(0))
      return Seq.empty[(Double, Double, Long)].toDF("prob", "value", "rank")
    val lo = st.getDouble(0); val hi = st.getDouble(1); val n = st.getLong(2)
    val ks = probs.map(p => math.max(1L, math.min(n, math.ceil(p * n).toLong)))
    if (lo == hi) // point mass: every quantile IS that value
      return probs.zip(ks).map { case (p, k) => (p, lo, k) }
        .toDF("prob", "value", "rank").orderBy("prob")
    val withC = v.withColumn("__chunk",
      least(lit(chunks - 1), greatest(lit(0),
        floor((col("__x") - lit(lo)) / lit(hi - lo) * chunks).cast("int"))))
    val per = withC.groupBy(col("__chunk")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // driver prefix walk: (chunk, local rank) for each requested rank
    val targets = ks.zip(probs).map { case (k, p) =>
      var acc = 0L
      var found: (Int, Long) = null
      per.foreach { case (c, cnt) =>
        if (found == null && k <= acc + cnt) found = (c, k - acc)
        acc += cnt
      }
      (found._1, found._2, p, k)
    }
    val tdf = broadcast(targets.toDF("__tc", "__lr", "prob", "rank"))
    val needed = targets.map(_._1).distinct
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__x"))
    withC.where(col("__chunk").isin(needed.map(c => c: Any): _*))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .join(tdf, col("__chunk") === col("__tc") && col("__rn") === col("__lr"))
      .select(col("prob"), col("__x").as("value"), col("rank"))
      .orderBy("prob")
  }

  /** Per-key INTERPOLATED percentiles, bit-compatible with Spark's
    * builtin exact `percentile` aggregate (r16, VERDICT item 5): the
    * builtin builds a value→count OpenHashMap per partial task, merges
    * the maps per group, and sorts the keys at finish — measured 2.5-
    * 2.9 s on q_percentile at sf0.1 vs 1.6-1.7 s for this form (one
    * keyed window + one partial-aggregated group pass;
    * bench/percentileprobe_r16.txt). The interpolation replays
    * Percentile.getPercentile's arithmetic EXACTLY:
    *
    *   position = p·(n−1);  lower = ⌊position⌋;  higher = ⌈position⌉
    *   value    = lower == higher ? key[lower]
    *            : (higher−position)·key[lower] + (position−lower)·key[higher]
    *
    * with key[i] the 0-based i-th order statistic of the double-cast
    * values — bit-equality asserted (doubleToRawLongBits) against the
    * builtin on lineitem and adversarial random data (odd/even n,
    * ties, singleton groups; QuantileSpec + the probe). NULL values
    * are skipped (the builtin's semantics); ties are safe (equal
    * values at a rank give the same value regardless of tie order).
    * Scale bound = [[exactQuantilesBy]]'s: one external sort per hot
    * key — use the chunked [[exactQuantiles]] for global ranks.
    * Output: (`key`, p0, p1, … one column per prob). */
  def interpolatedPercentilesBy(df: DataFrame, key: String, value: String,
                                probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "interpolatedPercentilesBy needs >= 1 prob")
    require(probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be in [0, 1], got $probs")
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(key).as("__k"), col(value).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    val w = Window.partitionBy(col("__k")).orderBy(col("__v"))
    val wn = Window.partitionBy(col("__k"))
    val r = v.withColumn("__rn", row_number().over(w).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(wn))
    val aggs = probs.zipWithIndex.flatMap { case (p, i) =>
      val pos = (col("__n") - 1).cast("double") * lit(p)
      Seq(
        max(when(col("__rn") === floor(pos).cast("long"), col("__v")))
          .as(s"__lo$i"),
        max(when(col("__rn") === ceil(pos).cast("long"), col("__v")))
          .as(s"__hi$i"))
    }
    val allAggs = first(col("__n")).as("__n") +: aggs
    val g = r.groupBy(col("__k")).agg(allAggs.head, allAggs.tail: _*)
    val outs = probs.zipWithIndex.map { case (p, i) =>
      val pos = (col("__n") - 1).cast("double") * lit(p)
      val lower = floor(pos)
      val higher = ceil(pos)
      when(lower === higher, col(s"__lo$i"))
        .otherwise((higher - pos) * col(s"__lo$i") +
          (pos - lower) * col(s"__hi$i"))
        .as(s"p$i")
    }
    g.select(col("__k").as(key) +: outs: _*)
  }

  /** Per-key exact quantiles — the grouped twin of [[exactQuantiles]]
    * ("p95 sequence length per source/domain"). One keyed window
    * (row_number over value — Spark's spilling sort per key, the
    * standard per-key-draw shape) + one per-key count aggregate whose
    * ≤ |keys|·|probs| target-rank table joins back on (key, rank).
    * Type-1 selection: no value arithmetic, bit-exact cross-engine.
    * Ties are safe: equal values give the same VALUE at the rank
    * regardless of tie order. NULL keys form their own group (the
    * target-rank join is null-safe `<=>`, matching groupBy/window
    * semantics — same contract as [[distinctCountEstimate]]); NULL
    * VALUES are dropped. Per-key cardinality is the scale bound
    * (a pathological hot key external-sorts in one task — audit with
    * [[keySkewReport]]); use [[exactQuantiles]] for global ranks.
    * Output: (keys..., prob, value, rank). */
  def exactQuantilesBy(df: DataFrame, keys: Seq[Column], value: Column,
                       probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "exactQuantilesBy needs at least one prob")
    require(probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be in (0, 1], got $probs")
    import org.apache.spark.sql.expressions.Window
    val v = df.select((keys :+ value.cast("double").as("__x")): _*)
      .where(col("__x").isNotNull)
    val keyNames = v.columns.dropRight(1).toIndexedSeq
    val targets = v.groupBy(keyNames.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("prob", explode(array(probs.map(lit): _*)))
      .withColumn("rank", greatest(lit(1L), least(col("__n"),
        ceil(col("prob") * col("__n").cast("double")))))
      .drop("__n")
    val w = Window.partitionBy(keyNames.map(col): _*).orderBy(col("__x"))
    // null-safe key equality (<=>): a NULL key is a real group to
    // groupBy/window, and a plain using-join would silently drop it
    val tR = targets.select((keyNames.map(k => col(k).as(s"__t_$k")) :+
      col("prob") :+ col("rank").as("__t_rank")): _*)
    v.withColumn("__rank", row_number().over(w).cast("long"))
      .join(tR, keyNames.map(k => col(k) <=> col(s"__t_$k"))
        .reduce(_ && _) && col("__rank") === col("__t_rank"))
      .select((keyNames.map(col) :+ col("prob") :+
        col("__x").as("value") :+ col("__rank").as("rank")): _*)
  }

  /** Mergeable quantile sketch, bin table form — the 100 TB tier next
    * to [[exactQuantilesBy]] (whose documented bound is one external
    * sort per hot key): DDSketch-style geometric binning (Masson et
    * al. 2019). Each value lands in bin ⌈ln|x|/ln γ⌉ with its sign
    * (zero gets its own bucket), so the per-key state is a (sgn, bin)
    * → count map of ≤ a few hundred rows REGARDLESS of n, the
    * estimate's value error is bounded by the bin width (relative
    * error ≤ γ − 1 one-sided), and the rank walk is exact integers.
    *
    * Chosen over a KLL/GK compactor deliberately: bin counts are a
    * PURE FUNCTION of the value multiset, so merge order cannot
    * matter — partial aggregation, retries, repartitioning, and
    * cross-batch sketch unions (a further groupBy-sum over this
    * table) all produce bit-identical sketches (spec-asserted), where
    * any compacting sketch is merge-order-dependent and would break
    * both the oracle gate and retry idempotence. Catalyst's partial
    * aggregation IS the sketch merge — map-side (sgn, bin) partials
    * bound the shuffle at |keys|·|bins| rows, no opaque UDAF, plan
    * stays codegen'd.
    *
    * NaN values are dropped; NULL keys are real groups (groupBy
    * semantics). The ln-binning is the one float op: a value whose
    * ln|x|/ln γ sits within ~1e-11 of an integer could bin
    * differently across engines (the usual ln-oracle contract —
    * integer-ish value domains have ~1e-3 margins, spec-profiled). */
  def quantileSketchBins(df: DataFrame, keys: Seq[Column], value: Column,
                         gamma: Double = 1.02): DataFrame = {
    require(gamma > 1.0 && gamma < 2.0, s"gamma $gamma outside (1,2)")
    val x = value.cast("double")
    val sgn = when(x > 0, lit(1)).when(x < 0, lit(-1)).otherwise(lit(0))
    val bin = when(x === 0, lit(0L))
      .otherwise(ceil(log(abs(x)) / log(lit(gamma))))
    val keyed = df.where(x.isNotNull && !isnan(x))
      .select((keys :+ sgn.as("__sgn") :+ bin.as("__bin")): _*)
    val keyNames = keyed.columns.dropRight(2).toIndexedSeq
    keyed.groupBy((keyNames.map(col) :+ col("__sgn") :+ col("__bin")): _*)
      .agg(count(lit(1)).as("__cnt"))
  }

  /** Per-key approximate quantiles over the [[quantileSketchBins]]
    * sketch — (keys..., prob, sgn, bin, est, rank, n): `rank` is the
    * EXACT type-1 target rank (the [[exactQuantilesBy]] convention),
    * (sgn, bin) the geometric bin containing it (integer-exact walk —
    * what the q_quantile_sketch oracle hash-matches), and `est` =
    * sgn·γ^bin the decoded upper-edge representative, within a factor
    * of γ of the true quantile's value (pow is cross-libm, so est is
    * the convenience column, not the oracle surface). The cumulative
    * walk runs over ≤ |bins| rows per key — a hot key costs a few
    * hundred window rows, not an external sort. */
  def quantileSketchBy(df: DataFrame, keys: Seq[Column], value: Column,
                       probs: Seq[Double],
                       gamma: Double = 1.02): DataFrame = {
    require(probs.nonEmpty, "quantileSketchBy needs at least one prob")
    require(probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be in (0, 1], got $probs")
    import org.apache.spark.sql.expressions.Window
    val bins = quantileSketchBins(df, keys, value, gamma)
    val keyNames = bins.columns.dropRight(3).toIndexedSeq
    // value order: negatives by descending magnitude, then the zero
    // bucket, then positives by ascending magnitude = (sgn, sgn·bin)
    val ord = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col("__sgn"), col("__sgn") * col("__bin"))
    val tot = Window.partitionBy(keyNames.map(col): _*)
    val w = bins
      .withColumn("__cum", sum(col("__cnt")).over(ord))
      .withColumn("__n", sum(col("__cnt")).over(tot))
    val withP = w.withColumn("prob", explode(array(probs.map(lit): _*)))
      .withColumn("rank", greatest(lit(1L),
        least(col("__n"), ceil(col("prob") * col("__n").cast("double")))))
      .where(col("__cum") - col("__cnt") < col("rank") &&
        col("rank") <= col("__cum"))
    val est = when(col("__sgn") === 0, lit(0.0))
      .otherwise(col("__sgn").cast("double") *
        pow(lit(gamma), col("__bin").cast("double")))
    withP.select((keyNames.map(col) :+ col("prob") :+
      col("__sgn").as("sgn") :+ col("__bin").as("bin") :+ est.as("est") :+
      col("rank") :+ col("__n").as("n")): _*)
  }

  /** KMV buffer: the `maxK` smallest distinct 60-bit hash values seen,
    * kept sorted ascending in a fixed array (in-place, the
    * MisraGriesAgg mutation contract). */
  // public (not private): Encoders.kryo validates buffer-class
  // visibility and rejects private classes
  final class KmvBuf(val arr: Array[Long], var size: Int)
      extends Serializable

  /** k-minimum-values distinct-count sketch (Bar-Yossef et al. 2002;
    * the KMV/bottom-k estimator): keep the k smallest distinct hash
    * values of the stream; with the hash uniform on [0, 2⁶⁰), the
    * kth smallest h₍ₖ₎ estimates distinct ≈ (k−1)·2⁶⁰/h₍ₖ₎ (relative
    * error ~1/√k). Mergeable (union of bottom-k sets → bottom-k), so
    * the partial-aggregate shape holds: each task carries ≤ k longs,
    * the driver merges ≤ #partitions·k. Below k distinct hashes the
    * sketch IS exact and reports the exact count.
    *
    * The hash is the md5 60-bit prefix (the repo's deterministic-twin
    * convention): the estimate is then a PURE function of the value
    * set — partitioning-independent AND engine-replayable, which is
    * what lets q_kmv_distinct hash-match a DuckDB replay exactly
    * (window-rank the distinct prefixes, decode the kth, one exact
    * IEEE division). */
  private final class KmvAgg(k: Int)
      extends Aggregator[Long, KmvBuf, (Long, Double)] {
    override def zero: KmvBuf = new KmvBuf(new Array[Long](k), 0)
    override def reduce(b: KmvBuf, h: Long): KmvBuf = {
      val idx = java.util.Arrays.binarySearch(b.arr, 0, b.size, h)
      if (idx < 0) { // absent
        val ins = -idx - 1
        if (b.size < k) {
          System.arraycopy(b.arr, ins, b.arr, ins + 1, b.size - ins)
          b.arr(ins) = h
          b.size += 1
        } else if (ins < k) { // smaller than the current max
          System.arraycopy(b.arr, ins, b.arr, ins + 1, k - ins - 1)
          b.arr(ins) = h
        }
      }
      b
    }
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
      // sorted-merge the two bottom sets, keep the k smallest distinct
      val out = new Array[Long](k)
      var i = 0; var j = 0; var n = 0
      while (n < k && (i < a.size || j < b.size)) {
        val takeA = j >= b.size || (i < a.size && a.arr(i) <= b.arr(j))
        val v = if (takeA) a.arr(i) else b.arr(j)
        if (takeA) i += 1 else j += 1
        if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
      }
      System.arraycopy(out, 0, a.arr, 0, n)
      a.size = n
      a
    }
    override def finish(b: KmvBuf): (Long, Double) =
      if (b.size < k) (b.size.toLong, b.size.toDouble)
      else (k.toLong,
        (k - 1).toDouble * 1152921504606846976.0 / b.arr(k - 1).toDouble)
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[(Long, Double)] =
      ExpressionEncoder[(Long, Double)]()
  }

  /** Distinct-count estimate of `value` per key group — the
    * cardinality pre-flight a 100 TB pipeline runs before a join or
    * groupBy (pairs with [[keySkewReport]]: skew tells you the
    * heavy keys, this tells you |keys| without a distinct shuffle).
    * One KMV partial aggregate: tasks carry ≤ k longs per group,
    * never a per-distinct-value table. Output per group: keys...,
    * est_distinct (exact when fewer than k distinct hashes were
    * seen), kept (= min(k, distinct hashes) — k means "estimated").
    * Estimates are a pure function of the value SET (md5-hash tier),
    * so the result is partitioning-independent and SQL-replayable. */
  def distinctCountEstimate(df: DataFrame, keys: Seq[Column],
                            value: Column, k: Int = 256): DataFrame = {
    require(k >= 16, s"k $k must be >= 16 (error ~1/sqrt(k))")
    val kmv = udaf(new KmvAgg(k), Encoders.scalaLong)
    val h = conv(substring(md5(value.cast("string")), 1, 15), 16, 10)
      .cast("long")
    val keyed = df.where(value.isNotNull)
      .select((keys :+ h.as("__h")): _*)
    // group on the selected key OUTPUT names (aliased key expressions
    // keep working — their source columns are gone after the select)
    val keyNames = keyed.columns.dropRight(1)
    keyed.groupBy(keyNames.map(col).toIndexedSeq: _*)
      .agg(kmv(col("__h")).as("__kmv"))
      .withColumn("kept", col("__kmv._1"))
      .withColumn("est_distinct", col("__kmv._2"))
      .drop("__kmv")
  }

  /** [[KmvAgg]] that finishes with the bottom-k hash SET itself
    * (ascending) instead of the (kept, estimate) pair — the mergeable
    * form set-OPERATION estimates compose from. */
  private final class KmvSetAgg(k: Int)
      extends Aggregator[Long, KmvBuf, Seq[Long]] {
    private val inner = new KmvAgg(k)
    override def zero: KmvBuf = inner.zero
    override def reduce(b: KmvBuf, h: Long): KmvBuf = inner.reduce(b, h)
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = inner.merge(a, b)
    override def finish(b: KmvBuf): Seq[Long] =
      b.arr.take(b.size).toSeq
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** Set-operation cardinality estimates between two corpora from two
    * KMV sketches (Beyer et al., SIGMOD 2007) — the overlap pre-flight
    * a 100 TB pipeline runs before ingesting a new crawl snapshot:
    * "how much of B is already in A" WITHOUT the distinct-join that
    * would answer it exactly. Each side aggregates to its bottom-k
    * distinct md5-60-bit hash set (≤ k longs per task — the
    * [[distinctCountEstimate]] shape); the union's bottom-k is
    * K = first k of sort(Kₐ ∪ Kᵦ) (valid because the union's k
    * smallest all lie in one side's bottom-k), ρ = |K ∩ Kₐ ∩ Kᵦ| / |K|
    * estimates Jaccard (a true member of K that is in A must be in Kₐ:
    * it is ≤ K's max ≤ Kₐ's max), and intersect ≈ ρ · union_est.
    *
    * Everything after the two aggregates is a broadcast 1-row cross
    * join + array ops. Exactness contract (the md5 tier): all outputs
    * are pure functions of the two value SETS — partitioning- and
    * order-independent, SQL-replayable; when the union has fewer than
    * k distinct values (`exact` = true) the estimates ARE the exact
    * cardinalities. The only fp ops are exact long→double converts,
    * one division per estimate, and the one ρ·U product, in a fixed
    * order mirrored by the oracle. Output one row: (n_a_est, n_b_est,
    * union_est, intersect_est, jaccard_est, kept, exact). */
  def setOverlapEstimate(dfA: DataFrame, valueA: Column,
                         dfB: DataFrame, valueB: Column,
                         k: Int = 256): DataFrame = {
    require(k >= 16, s"k $k must be >= 16 (error ~1/sqrt(k))")
    val kmv = udaf(new KmvSetAgg(k), Encoders.scalaLong)
    def sketch(df: DataFrame, v: Column, name: String) = {
      val h = conv(substring(md5(v.cast("string")), 1, 15), 16, 10)
        .cast("long")
      df.where(v.isNotNull).select(h.as("__h"))
        .agg(kmv(col("__h")).as(name))
    }
    sketch(dfA, valueA, "__ka")
      .crossJoin(sketch(dfB, valueB, "__kb"))
      .withColumn("__ku",
        slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .select(kmvOverlapCols(k): _*)
  }

  /** The estimator columns shared by [[setOverlapEstimate]] and
    * [[setOverlapMatrix]] — expects `__ka`/`__kb`/`__ku` in scope. */
  private def kmvOverlapCols(k: Int): Seq[Column] = {
    val max60 = lit(1152921504606846976.0) // 2^60: 15-hex-digit domain
    def est(arr: Column) =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise(lit((k - 1).toDouble) * max60 /
          element_at(arr, k).cast("double"))
    val kept = size(col("__ku"))
    val nI = size(array_intersect(col("__ku"),
      array_intersect(col("__ka"), col("__kb"))))
    val rho = when(kept === 0, lit(0.0))
      .otherwise(nI.cast("double") / kept.cast("double"))
    Seq(
      est(col("__ka")).as("n_a_est"), est(col("__kb")).as("n_b_est"),
      est(col("__ku")).as("union_est"),
      (rho * est(col("__ku"))).as("intersect_est"),
      rho.as("jaccard_est"),
      kept.cast("long").as("kept"),
      (kept < k).cast("int").cast("long").as("exact"))
  }

  /** Pairwise [[setOverlapEstimate]] across every unordered pair of
    * `key` groups from ONE pass of per-key sketches — the
    * q_dup_matrix question ("which feeds mirror each other") answered
    * at sketch cost, no pair-finding over documents at all: one
    * keyed KMV aggregate (≤ k longs per task per key), then the
    * |keys|² /2 pair grid of ≤ k-long arrays (broadcast NL join over
    * the tiny sketch table). LOW-CARDINALITY keys only by contract
    * (sources, languages, snapshot ids — the hashRank convention):
    * the pair grid is quadratic in |keys|, and each output row costs
    * O(k log k) array ops. Same exactness contract as
    * [[setOverlapEstimate]]. Output per pair (key_a < key_b):
    * (key_a, key_b, n_a_est, n_b_est, union_est, intersect_est,
    * jaccard_est, kept, exact). */
  def setOverlapMatrix(df: DataFrame, key: Column, value: Column,
                       k: Int = 256): DataFrame = {
    require(k >= 16, s"k $k must be >= 16 (error ~1/sqrt(k))")
    val kmv = udaf(new KmvSetAgg(k), Encoders.scalaLong)
    val h = conv(substring(md5(value.cast("string")), 1, 15), 16, 10)
      .cast("long")
    val sk = df.where(value.isNotNull && key.isNotNull)
      .select(key.cast("string").as("__key"), h.as("__h"))
      .groupBy(col("__key")).agg(kmv(col("__h")).as("__ks"))
    val a = sk.select(col("__key").as("key_a"), col("__ks").as("__ka"))
    val b = sk.select(col("__key").as("key_b"), col("__ks").as("__kb"))
    a.join(b, col("key_a") < col("key_b"))
      .withColumn("__ku",
        slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .select((Seq(col("key_a"), col("key_b")) ++ kmvOverlapCols(k)): _*)
  }

  /** Exact heavy hitters at sketch cost: every item of `key` whose
    * exact count is strictly greater than N/k (N = non-null rows),
    * with its EXACT count. Two passes, both scale-shaped:
    *
    *  1. ONE Misra-Gries aggregate (partial/map-side via the
    *     `Aggregator` contract — each task carries ≤ k-1 counters,
    *     the driver receives one ≤ k-1-entry summary, never a
    *     per-distinct-key table) fused with `count(*)` for N.
    *  2. An exact re-count of the ≤ k-1 candidate items: the literal
    *     candidate list becomes a pushed-down `IN` filter on the
    *     scan, so the group-by touches only candidate rows.
    *
    * The MG guarantee makes pass-2's output exactly
    * {item : count > N/k} independent of partitioning/merge order —
    * the sketch only ever narrows WORK, not results (the
    * verified-LSH philosophy) — which is what lets q_heavy_hitters
    * hash-match a plain GROUP BY … HAVING oracle. Use where the
    * distinct-key cardinality is huge (tokens, URLs, n-grams) and
    * only the > N/k tail matters; for full histograms use
    * `Combiners.frequencies`. */
  def heavyHitters(df: DataFrame, key: Column, k: Int,
                   out: String = "item"): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val keyed = df.select(key.cast("string").as("__k"))
      .where(col("__k").isNotNull)
    val mg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    val row = keyed.agg(mg(col("__k")).as("__cand"),
      count(lit(1)).as("__n")).head()
    val cand = row.getSeq[String](0)
    val n = row.getLong(1)
    val thresh = n.toDouble / k
    val hit = if (cand.isEmpty) lit(false)
              else col("__k").isInCollection(cand)
    keyed.where(hit)
      .groupBy(col("__k")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > lit(thresh))
      .select(col("__k").as(out), col("cnt"))
  }

  /** Item co-occurrence edges from a (group, item) relation — the
    * bipartite projection every co-purchase / co-click / co-citation
    * graph starts from: unordered item pairs sharing a group, with a
    * co-occurrence weight, optionally support-thresholded.
    *
    * Weight semantics: by default w counts co-occurrence INSTANCES —
    * a group holding u m times and v n times contributes m·n (the
    * self-join product, matching the established co-purchase
    * oracles, where a part appearing on two line items of one order
    * weighs double). Pass `distinctItems = true` to dedupe
    * (group, item) first, making w exactly the number of DISTINCT
    * shared groups.
    *
    * ONE shuffle (r15: the group-key SELF-JOIN form shuffled the
    * (group, item) rows twice — once per join side; now each group
    * collects its sorted item list once and emits pairs in place via
    * [[Dedup.pairsFromSorted]], the LSH-bucket shape — multiset-equal
    * output proven by PairBuildProbe@afd7ec7 (diff 0 on both the raw
    * and the weighted form; a<b over a sorted array ≡ the join's
    * `a.__i < b.__i`, null groups/items pair in neither form) and
    * 20–30% faster at sf0.1). The aggregation buffer holds one
    * group's items (8–16 bytes each) — the same pathological-group
    * caveat as before, now as buffer bytes instead of join fan-out;
    * the output volume Σ C(group size, 2) remains the projection's
    * inherent cost — at 100 TB cap pathological groups UPSTREAM (a
    * celebrity-sized group is a cross-join seed; audit group sizes
    * with [[keySkewReport]] first). minCount ≥ 2 is the standard
    * noise floor. Output: (u, v, w), u < v in the item type's order. */
  def coOccurrenceEdges(df: DataFrame, group: Column, item: Column,
                        minCount: Long = 1L,
                        distinctItems: Boolean = false): DataFrame = {
    require(minCount >= 1, s"minCount $minCount must be >= 1")
    val raw = df.select(group.as("__g"), item.as("__i"))
    val base = if (distinctItems) raw.distinct() else raw
    val pairs = base
      .where(col("__g").isNotNull && col("__i").isNotNull)
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(col("__i"))).as("__is"))
      .select(explode(Dedup.pairsFromSorted(col("__is"))).as("__p"))
      .groupBy(col("__p.id_a").as("u"), col("__p.id_b").as("v"))
      .agg(count(lit(1)).as("w"))
    if (minCount > 1) pairs.where(col("w") >= minCount) else pairs
  }

  /** Pairwise association rules over a (group, item) relation — the
    * market-basket completion of [[coOccurrenceEdges]]: every
    * DIRECTED rule a→b with distinct-group supports,
    * confidence = P(b | a) and lift = P(a,b) / (P(a)·P(b)). Pairwise
    * only (2-itemsets) by declared design — the exact, one-join tier;
    * longer itemsets grow combinatorially and SHOULD be a deliberate
    * second call over a filtered item set.
    *
    * Exactness: all supports are distinct-group longs; confidence is
    * ONE division of exact longs; lift multiplies in decimal(38,0)
    * BEFORE its one division (w·N up to ~1e20 at corpus scale —
    * longs would overflow; the WordPiece r10 lesson). Items compare
    * as their string casts (mirror in oracles).
    *
    * Scale shape: one distinct, one group-key self-join (the
    * coOccurrenceEdges projection — audit group sizes with
    * [[keySkewReport]] first), two broadcast-sized support joins.
    * Output: (antecedent, consequent, pair_support,
    * antecedent_support, consequent_support, n_groups, confidence,
    * lift), both orientations of every surviving pair. */
  def associationRules(df: DataFrame, group: Column, item: Column,
                       minPairSupport: Long = 2L): DataFrame = {
    require(minPairSupport >= 1, s"minPairSupport $minPairSupport must be >= 1")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = Dedup.materializeLazily(
      df.select(group.cast("string").as("__g"), item.cast("string").as("__i"))
        .where(col("__g").isNotNull && col("__i").isNotNull).distinct())
    val nB = base.select(col("__g")).distinct().count()
    val isup = base.groupBy(col("__i")).agg(count(lit(1)).as("__si"))
    val pairs = coOccurrenceEdges(base, col("__g"), col("__i"),
      minCount = minPairSupport) // base pre-deduped => distinct-group w
    val dir = pairs.select(col("u").as("__a"), col("v").as("__b"), col("w"))
      .union(pairs.select(col("v").as("__a"), col("u").as("__b"), col("w")))
    dir
      .join(isup.select(col("__i").as("__a"), col("__si").as("__sa")), "__a")
      .join(isup.select(col("__i").as("__b"), col("__si").as("__sb")), "__b")
      .select(col("__a").as("antecedent"), col("__b").as("consequent"),
        col("w").as("pair_support"), col("__sa").as("antecedent_support"),
        col("__sb").as("consequent_support"), lit(nB).as("n_groups"),
        (col("w").cast("double") / col("__sa").cast("double"))
          .as("confidence"),
        ((dec(col("w")) * dec(lit(nB))).cast("double") /
          (dec(col("__sa")) * dec(col("__sb"))).cast("double")).as("lift"))
  }

  /** RAKE stopword list (Rose et al. 2010 use a full SMART list; this
    * is the compact high-frequency English core — a PARAMETER, swap
    * per corpus). Kept sorted so the alternation the pattern builds is
    * reproducible. */
  val rakeStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "can",
    "could", "for", "from", "had", "has", "have", "he", "i", "in",
    "is", "it", "not", "of", "on", "or", "she", "that", "the", "they",
    "this", "to", "was", "we", "were", "will", "with", "would", "you")

  /** The RAKE phrase-delimiter regex over LOWERCASED text: any
    * punctuation run, or any stopword as a whole word. ONE shared
    * literal: the operator applies it via Spark regexp_replace and
    * the oracle interpolates the SAME string into DuckDB's
    * regexp_replace. The whitespace class is EXPLICIT
    * ([ \t\n\f\r]), never \s: Java's \s includes U+000B (vertical
    * tab) while RE2's does not — with \s a VT would be in-phrase
    * whitespace for Spark but a delimiter for DuckDB (the codeSignals
    * ';$' cross-engine class, caught again in the r14 self-review).
    * With VT excluded from the allowed set it is a DELIMITER in both
    * engines, and the downstream \s+ collapse only ever sees
    * characters the two engines agree on. */
  def rakeDelimiterPattern(stopwords: Seq[String] = rakeStopwords): String =
    "[^a-z0-9 \\t\\n\\f\\r]+|\\b(?:" + stopwords.mkString("|") + ")\\b"

  /** RAKE keyword extraction (Rapid Automatic Keyword Extraction,
    * Rose et al. 2010) aggregated corpus-wide: candidate phrases =
    * maximal runs between punctuation/stopword delimiters; word
    * score = deg(w)/freq(w) where freq counts occurrences and deg
    * sums the lengths of phrases containing w; phrase score = Σ of
    * its words' scores.
    *
    * Determinism: freq/deg are exact longs; each word score is ONE
    * division of exact operands; the phrase sum folds in WORD
    * POSITION order via the sorted-array fold (a plain double sum
    * would be partition-order-dependent), so both engines add the
    * identical doubles in the identical order. round(6) rides the
    * q_bigram_logprob precedent. Scale: two explodes + two
    * aggregates + one broadcast-sized word-score join; no windows.
    * Output: (phrase, n_occurrences, score) for phrases with ≥
    * `minCount` occurrences. */
  def rakeKeywords(df: DataFrame, text: Column, minCount: Long = 2L,
                   stopwords: Seq[String] = rakeStopwords): DataFrame = {
    require(minCount >= 1, s"minCount $minCount must be >= 1")
    val sep = "§"
    val pat = rakeDelimiterPattern(stopwords)
    val phrasesArr = filter(
      transform(split(regexp_replace(lower(text), pat, sep), sep),
        p => trim(regexp_replace(p, "\\s+", " "))),
      p => length(p) > 0)
    // phw feeds BOTH the word stats and the phrase counts — carve the
    // phrases once, not twice
    val phw = Dedup.materializeLazily(
      df.select(explode(phrasesArr).as("__p"))
        .select(col("__p"), size(split(col("__p"), " ")).as("__len")))
    val words = phw.select(col("__p"), col("__len"),
      posexplode(split(col("__p"), " ")).as(Seq("__pos", "__w")))
    val wstats = words.groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("__w"),
        (col("__deg").cast("double") / col("__freq").cast("double"))
          .as("__wsc"))
    val pcount = phw.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") >= minCount)
    val pw = pcount.select(col("__p"),
      posexplode(split(col("__p"), " ")).as(Seq("__pos", "__w")))
    val scored = pw.join(wstats, Seq("__w"))
      .groupBy(col("__p"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__wsc"))))
        .as("__arr"))
      .select(col("__p"),
        aggregate(col("__arr"), lit(0.0),
          (a, x) => a + x.getField("__wsc")).as("__score"))
    pcount.join(scored, Seq("__p"))
      .select(col("__p").as("phrase"), col("n_occurrences"),
        round(col("__score"), 6).as("score"))
  }

  /** Benford first-digit probabilities log₁₀(1 + 1/d), d = 1..9, via
    * StrictMath — bit-reproducible on every JVM, so the literals the
    * operator embeds and the generated oracle text agree exactly (the
    * [[ndcgDiscounts]] single-source-of-truth trick). */
  def benfordProbs: Seq[Double] =
    (1 to 9).map(d => StrictMath.log10(1.0 + 1.0 / d))

  /** Benford first-significant-digit audit — the numeric-forgery /
    * synthetic-data smell test: observed counts per leading digit vs
    * the Benford expectation, with per-digit χ² terms.
    *
    * The digit extracts from the value's DECIMAL STRING repr (first
    * '[1-9]' match) — engines format doubles differently in the tail
    * but any correct repr preserves the first significant digit, and
    * this avoids a libm log10 on the data path entirely. Zeros/NULLs
    * drop. Expected counts and χ² terms are fixed-order IEEE
    * expressions of (exact long n_d, total n, [[benfordProbs]]
    * literal) — identical text replayed by the oracle, bit-exact.
    * Scale: ONE count aggregate over a 9-value key (map-side
    * partials), a 9-row literal join. Output:
    * (digit, observed, expected, chi2_term), 9 rows (absent digits
    * report observed = 0). */
  def benfordReport(df: DataFrame, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(regexp_extract(value.cast("double").cast("string"),
        "[1-9]", 0).as("__d"))
      .where(col("__d") =!= "")
    // materialized: the 9-row aggregate feeds both the total head()
    // and the returned join — without it the corpus scans twice
    val obs = Dedup.materializeLazily(
      d.groupBy(col("__d").cast("int").as("digit"))
        .agg(count(lit(1)).as("observed")))
    val digits = broadcast((1 to 9).map(i => i -> benfordProbs(i - 1))
      .toDF("digit", "__p"))
    val tot = obs.agg(coalesce(sum(col("observed")), lit(0L))).head().getLong(0)
    digits.join(obs, Seq("digit"), "left")
      .select(col("digit").cast("long").as("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"),
        (lit(tot.toDouble) * col("__p")).as("expected"),
        {
          val o = coalesce(col("observed"), lit(0L)).cast("double")
          val e = lit(tot.toDouble) * col("__p")
          when(lit(tot) === 0L, lit(0.0))
            .otherwise((o - e) * (o - e) / e)
        }.as("chi2_term"))
  }

  /** Herfindahl-Hirschman concentration of a key distribution — the
    * one-number mix audit ("is this corpus 90% one domain?"):
    * HHI = Σ (c_i/n)², 1/|keys| (uniform) .. 1 (single key).
    * Σ c_i² runs in decimal(38,0) (hub counts square past long range
    * at corpus scale — the degreeAssortativity recipe) to ONE final
    * double division; the decimal→double converts round
    * deterministically (IEEE nearest) in any engine. One per-key
    * count + one 3-scalar aggregate. NULL keys are a real group.
    * Output: one row (n_keys, n_rows, hhi). */
  def herfindahlIndex(df: DataFrame, key: Column): DataFrame = {
    val per = df.select(key.cast("string").as("__k"))
      .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
    per.agg(count(lit(1)).as("n_keys"),
        coalesce(sum(col("__c")), lit(0L)).as("__n"),
        coalesce(sum(col("__c").cast("decimal(38,0)") *
          col("__c").cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
          .as("__ss"))
      .select(col("n_keys"), col("__n").as("n_rows"),
        when(col("__n") === 0L, lit(0.0))
          .otherwise(col("__ss").cast("double") /
            (col("__n").cast("double") * col("__n").cast("double")))
          .as("hhi"))
  }

  /** Per-key heavy hitters — the grouped twin of [[heavyHitters]]
    * ("which tokens dominate each source/domain"): per key, every
    * item with frequency strictly above n_key/k, found via a per-key
    * Misra-Gries sketch then EXACTLY recounted. The MG survival
    * guarantee holds per group under any merge order, so the sketch
    * only ever narrows WORK (candidate rows), never results — the
    * output is the exact `GROUP BY key, item HAVING cnt·k > n_key`
    * set regardless of partitioning. The threshold compares by
    * integer cross-multiplication (cnt·k > n) — no division at all.
    *
    * Scale shape: one keyed MG aggregate (≤ k−1 counters per key per
    * task), candidate (key, item) pairs join back as a filter, one
    * exact recount aggregate on candidate rows only. NULL items drop;
    * NULL keys are real groups (the candidate join is null-safe
    * `<=>` — the exactQuantilesBy lesson). Output:
    * (keyOut, out, cnt). */
  def heavyHittersBy(df: DataFrame, key: Column, item: Column, k: Int,
                     keyOut: String = "key",
                     out: String = "item"): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val keyed = df.select(key.cast("string").as("__k"),
        item.cast("string").as("__i"))
      .where(col("__i").isNotNull)
    val mg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    val cands = keyed.groupBy(col("__k"))
      .agg(mg(col("__i")).as("__cand"), count(lit(1)).as("__n"))
      .select(col("__k").as("__ck"), col("__n"),
        explode(col("__cand")).as("__ci"))
    keyed.join(cands,
        col("__k") <=> col("__ck") && col("__i") === col("__ci"))
      .groupBy(col("__k"), col("__i"))
      .agg(count(lit(1)).as("cnt"), max(col("__n")).as("__n"))
      .where(col("cnt") * k > col("__n"))
      .select(col("__k").as(keyOut), col("__i").as(out), col("cnt"))
  }

  /** Reciprocal-rank fusion of N ranked lists (Cormack et al., SIGIR
    * 2009) — the standard hybrid-retrieval merge (lexical BM25 list +
    * vector top-k list → one ranking). Each list contributes
    * `scale div (c + rank)` per item; an item's fused score is the
    * sum over the lists it appears in. Contributions are INTEGER
    * (scaled by `scale`, floor division) rather than the textbook
    * `1/(c+rank)` double: integer sums are order- and
    * partitioning-invariant and dialect-exact, where a float sum over
    * a group has no deterministic add order (the scaled-BIGINT
    * recipe; at scale=1e12 the floor error per term is < 1e-12 —
    * far below the ~2.6e-4 gap between adjacent ranks at c=60).
    * Final rank ties break on `id` ascending.
    *
    * Scale shape: a union of the (already small, ≤ per-list k) ranked
    * lists, one sum aggregate on `id`, one row_number over the fused
    * scores — the window sorts only the fused candidate set (≤ Σ list
    * sizes), never the corpus. Output: (id, rrf_scaled, n_lists,
    * rank), rank ≤ k. */
  def rrfFuse(lists: Seq[DataFrame], id: String, rankCol: String,
              c: Int = 60, k: Int = 10,
              scale: Long = 1000000000000L): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(c >= 0 && k >= 1 && scale >= 1, s"bad params c=$c k=$k")
    import org.apache.spark.sql.expressions.Window
    // ranks are 1-based BY CONTRACT (same as rankedEvalReport): a
    // 0-based list silently inflates its contributions (and rank = -c
    // divides by zero) — fail fast instead of skewing the fusion
    val contribs = lists.map { l =>
      val r = when(col(rankCol).cast("long") < 1L,
          raise_error(lit("rrfFuse: ranks must be 1-based")))
        .otherwise(col(rankCol).cast("long"))
      l.select(col(id).as("__id"), r.as("__r1b"))
        .select(col("__id"),
          expr(s"${scale}L div (${c}L + __r1b)").as("__ct"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy(col("__id"))
      .agg(sum(col("__ct")).as("rrf_scaled"),
        count(lit(1)).as("n_lists"))
    val w = Window.orderBy(col("rrf_scaled").desc, col("__id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("__id").as(id), col("rrf_scaled"), col("n_lists"),
        col("rank"))
  }

  /** Single-pass per-column data profile — the pre-flight a 100 TB
    * ingest runs before writing a table contract ([[expectationsReport]]
    * checks DECLARED expectations; this DISCOVERS the shape). Per
    * column: row/null counts, distinct count, numeric min/max (exact
    * SELECTION of stored values — no arithmetic, so doubles are
    * bit-exact cross-engine), string min/max (binary collation) and
    * total length. Non-applicable metrics are NULL (profile temporal
    * columns by casting to epoch first — timezone semantics stay with
    * the caller).
    *
    * ONE aggregate job over the table for everything non-distinct:
    * every metric is a partial aggregate fused into a single pass,
    * unpivoted driver-side from one 1-row result (the
    * [[expectationsReport]] shape). Distinct counts: the default
    * approx tier (HLL++, rsd 1%) fuses into that same pass and is
    * the 100 TB path; `exact` runs ONE NARROW count_distinct job per
    * column instead (parquet column pruning — each scans one column;
    * driver folds #columns scalars into literals). Measured at sf0.1
    * (bench/profileprobe_r12.txt): fusing 11 exact count_distincts into the
    * single pass makes Catalyst plan an Expand (rows × #columns
    * through one wide shuffle) at 22-27 s, vs 1.8 s base + 3-4 s of
    * per-column jobs for the split form — 4.5× — while the unpivoted
    * single-job alternative (distinct over (column, value-as-string)
    * pairs) sat at 4.2 s and loses type fidelity.
    *
    * Exact tier is EAGER by contract (it runs Spark jobs at call
    * time — one fused pass + one narrow job per column — and returns
    * a driver-local result; #columns × 10 scalars, bounded by
    * construction). On a DERIVED input (join/aggregate/generate
    * anywhere in the plan) it materializes the projected input ONCE
    * (lazy checkpoint folded into the fused pass, released before
    * returning) so the per-column jobs rescan cached blocks instead
    * of recomputing the caller's plan #columns times (r12 verdict);
    * a plain project/filter-over-scan input skips the
    * materialization and keeps the per-column parquet pruning — at
    * 100 TB a pruned single-column scan beats caching the full table.
    * Output: (column, dtype, n_rows, n_nulls,
    * n_distinct, min_num, max_num, min_str, max_str, total_len). */
  def columnProfile(df: DataFrame, exact: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val numeric: Set[DataType] = Set(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType)
    def isNum(t: DataType) = numeric.contains(t) ||
      t.isInstanceOf[DecimalType]
    val fields = df.schema.fields
    // fused single-pass aggregates for everything non-distinct; the
    // approx tier fuses its HLL distinct estimate into the same pass
    def fusedAggs(withApprox: Boolean) = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(f.name)
      Seq(count(c).as(s"__nn_$i")) ++
      (if (!withApprox) Nil
       else Seq(approx_count_distinct(c, 0.01)
         .cast("long").as(s"__nd_$i"))) ++
      (if (isNum(f.dataType))
        Seq(min(c).cast("double").as(s"__mn_$i"),
            max(c).cast("double").as(s"__mx_$i"))
       else Nil) ++
      (f.dataType match {
        case StringType => Seq(
          min(c).as(s"__ms_$i"), max(c).as(s"__xs_$i"),
          sum(length(c)).cast("long").as(s"__tl_$i"))
        case _ => Nil
      })
    }
    if (!exact) {
      val one = df.agg(count(lit(1)).as("__n"),
        fusedAggs(withApprox = true).toIndexedSeq: _*)
      val rows = fields.zipWithIndex.map { case (f, i) =>
        def opt(n: String, tpe: String) =
          if (one.columns.contains(n)) col(n) else lit(null).cast(tpe)
        struct(
          lit(f.name).as("column"),
          lit(f.dataType.simpleString).as("dtype"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$i")).as("n_nulls"),
          col(s"__nd_$i").as("n_distinct"),
          opt(s"__mn_$i", "double").as("min_num"),
          opt(s"__mx_$i", "double").as("max_num"),
          opt(s"__ms_$i", "string").as("min_str"),
          opt(s"__xs_$i", "string").as("max_str"),
          opt(s"__tl_$i", "long").as("total_len"))
      }
      one.select(explode(array(rows.toIndexedSeq: _*)).as("__p"))
        .select(col("__p.*"))
    } else {
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
      import org.apache.spark.sql.graft.Bridge
      val spark = df.sparkSession
      // a project/filter-over-scan plan stays direct: each per-column
      // job reaches the source with ONE column in ReadSchema. Anything
      // wider (join/agg/generate/union/window) gets materialized once.
      val prunableScan = df.queryExecution.optimizedPlan
        .collect { case n => n }
        .forall(n => n.children.isEmpty ||
          n.isInstanceOf[LProject] || n.isInstanceOf[LFilter])
      // scoped release: only blocks created HERE are swept, so a
      // caller's unconsumed dedup-family checkpoints are untouched
      val (one, exactDist) = Bridge.withMaterializedScope(spark) {
        val base =
          if (prunableScan) df
          else Dedup.materializeLazily(
            df.select(fields.map(f => col(f.name)).toIndexedSeq: _*))
        // fused pass FIRST: the lazy checkpoint materializes inside a
        // job we run anyway; the per-column jobs then rescan the cache
        val oneRow = base.agg(count(lit(1)).as("__n"),
          fusedAggs(withApprox = false).toIndexedSeq: _*).head()
        val dist: Map[String, Long] = fields.map(f => f.name ->
          base.select(col(f.name)).agg(count_distinct(col(f.name)))
            .head().getLong(0)).toMap
        (oneRow, dist)
      }
      val oneCols = one.schema.fieldNames.toSet
      val rows = fields.zipWithIndex.map { case (f, i) =>
        def opt(n: String, tpe: String): Column =
          if (!oneCols.contains(n)) lit(null).cast(tpe)
          else one.getAs[Any](n) match {
            case null => lit(null).cast(tpe)
            case v    => lit(v)
          }
        struct(
          lit(f.name).as("column"),
          lit(f.dataType.simpleString).as("dtype"),
          lit(one.getAs[Long]("__n")).as("n_rows"),
          lit(one.getAs[Long]("__n") - one.getAs[Long](s"__nn_$i")).as("n_nulls"),
          lit(exactDist(f.name)).as("n_distinct"),
          opt(s"__mn_$i", "double").as("min_num"),
          opt(s"__mx_$i", "double").as("max_num"),
          opt(s"__ms_$i", "string").as("min_str"),
          opt(s"__xs_$i", "string").as("max_str"),
          opt(s"__tl_$i", "long").as("total_len"))
      }
      spark.range(1)
        .select(explode(array(rows.toIndexedSeq: _*)).as("__p"))
        .select(col("__p.*"))
    }
  }

  /** [[KmvAgg]] whose INPUT is a bottom-k hash array (a sketch) —
    * merges sketches instead of raw hashes, the shape iterative
    * sketch propagation needs (each shuffled row carries one ≤ k-long
    * array, partial merges run map-side, memory is O(k) per group). */
  private final class KmvMergeAgg(k: Int)
      extends Aggregator[Seq[Long], KmvBuf, Seq[Long]] {
    private val inner = new KmvAgg(k)
    override def zero: KmvBuf = inner.zero
    override def reduce(b: KmvBuf, s: Seq[Long]): KmvBuf =
      inner.merge(b, new KmvBuf(s.toArray, s.length))
    override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = inner.merge(a, b)
    override def finish(b: KmvBuf): Seq[Long] = b.arr.take(b.size).toSeq
    override def bufferEncoder: Encoder[KmvBuf] = Encoders.kryo[KmvBuf]
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** Per-node h-hop neighborhood-size estimate — the HyperBall idea
    * (Boldi & Vigna, 2013: iterate mergeable cardinality sketches
    * along edges) on the repo's KMV/bottom-k sketch instead of
    * HyperLogLog. ball(v, 0) = {v}; each round unions every node's
    * sketch with its out-neighbors' sketches, so after `hops` rounds
    * node v's sketch summarizes exactly ball(v, hops) = nodes
    * reachable from v in ≤ hops steps (v included). The reach
    * distribution this yields (how much of the graph each node sees
    * in h steps) is the standard diameter/centrality pre-flight on
    * graphs where exact BFS from every node is quadratic.
    *
    * Scale shape per round: one join of the sketch table to the edge
    * list (messages carry ONE ≤ k-long array each — O(m) rows, never
    * exploded to hashes) + one [[KmvMergeAgg]] aggregate with
    * map-side partials (O(k) memory per node per task). `hops` is
    * small by contract (2-4, like production HyperBall runs).
    *
    * Exactness (md5 tier): hashes are md5-60-bit of the node id, so
    * each sketch — and therefore the estimate — is a PURE function of
    * the reachable SET: partitioning/merge-order independent and
    * SQL-replayable (expand the ball with h self-joins, bottom-k the
    * md5 prefixes, decode the kth — the q_kmv_distinct recipe).
    * `exact` = 1 when the ball has < k distinct nodes (the estimate
    * IS |ball|). Output: (node, ball_est, kept, exact). */
  def hopNeighborhoodEstimate(edges: DataFrame, src: Column, dst: Column,
                              hops: Int, k: Int = 256,
                              directed: Boolean = true): DataFrame = {
    val state = kmvBallStates(edges, src, dst, hops, k, directed).last
    val kept = size(col("__sk"))
    // cast: output boundary of the long-keyed path (no-op when the
    // node ids were strings all along)
    state.select(col("__node").cast("string").as("node"),
        kmvBallEst(k).as("ball_est"),
        kept.cast("long").as("kept"),
        (kept < k).cast("int").cast("long").as("exact"))
  }

  /** Shared HyperBall iteration: the sketch state AFTER each hop
    * 1..hops (each lazily checkpointed — the loop-state recipe).
    * State h's `__sk` summarizes exactly ball(v, h); the prelude,
    * hashing, and per-round join/aggregate are precisely
    * [[hopNeighborhoodEstimate]]'s documented shape. */
  private def kmvBallStates(edges: DataFrame, src: Column, dst: Column,
                            hops: Int, k: Int,
                            directed: Boolean): Seq[DataFrame] = {
    require(hops >= 1 && hops <= 8, s"hops $hops out of [1, 8]")
    require(k >= 16, s"k $k must be >= 16 (error ~1/sqrt(k))")
    val kmv = udaf(new KmvMergeAgg(k), ExpressionEncoder[Seq[Long]]())
    // r16: LONG-keyed node ids when both endpoints are integral (the
    // r15 canonicalEdgesAuto dispatch) — the md5 sketch hash is still
    // taken over the STRING form (cast(long→string) = the value the
    // string path hashed, so every sketch and estimate is unchanged;
    // the md5-tier oracle replay depends on it), but the per-hop
    // join/groupBy keys are 8-byte longs. Callers cast `__node` back
    // to string at the output boundary. Sound unconditionally: every
    // output here is a per-NODE aggregate of the undirected edge SET —
    // no pair order or orientation is ever exposed.
    val longKeys = integralEndpoints(edges, src, dst)
    val keyType = if (longKeys) "long" else "string"
    val fwd = edges.select(src.cast(keyType).as("__s"),
      dst.cast(keyType).as("__d"))
    // r15: e and nodes MATERIALIZED — each hop's state checkpoint is
    // its own plan, so an unmaterialized e re-ran the upstream edge
    // construction (for the co-purchase callers: the whole
    // coOccurrenceEdges pair aggregate) from the parquet scans once
    // per hop; the per-hop state side is broadcast under the pageRank
    // guard (sketch rows are ≤ 8k+key bytes) so the constant edge
    // table is never shuffled per round
    val e = Dedup.materializeLazily(
      (if (directed) fwd
       else fwd.union(edges.select(dst.cast(keyType).as("__s"),
         src.cast(keyType).as("__d")))).distinct())
    def h(c: Column) =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    val nodes = Dedup.materializeLazily(
      e.select(col("__s").as("__node"))
        .union(e.select(col("__d").as("__node"))).distinct())
    // length() is string-only — fixed 16-byte key width on the long
    // path (the r15 TriangleContrib convention)
    val nstats = nodes.agg(count(lit(1)),
      if (longKeys) lit(16.0)
      else coalesce(avg(length(col("__node"))), lit(0.0))).head()
    val hinted: DataFrame => DataFrame =
      if (stateBroadcastOk(nstats.getLong(0).toDouble,
          nstats.getDouble(1) + 8.0 * k, 8000000L))
        df => broadcast(df)
      else df => df
    var state = nodes.select(col("__node"),
      array(h(col("__node"))).as("__sk"))
    val out = Seq.newBuilder[DataFrame]
    for (_ <- 1 to hops) {
      val msgs = e.join(hinted(state), e("__d") === state("__node"))
        .select(col("__s").as("__node"), col("__sk"))
      state = Dedup.materializeLazily(
        state.union(msgs).groupBy(col("__node"))
          .agg(kmv(col("__sk")).as("__sk")))
      out += state
    }
    out.result()
  }

  /** Ball-size estimate from a `__sk` bottom-k sketch column — the
    * [[distinctCountEstimate]] decode: exact count below k, kth-hash
    * estimator (k−1)·2⁶⁰/h₍ₖ₎ at or above. */
  private def kmvBallEst(k: Int): Column = {
    val max60 = lit(1152921504606846976.0) // 2^60
    val kept = size(col("__sk"))
    when(kept < k, kept.cast("double"))
      .otherwise(lit((k - 1).toDouble) * max60 /
        element_at(col("__sk"), k).cast("double"))
  }

  /** Per-node harmonic-centrality estimate — THE application HyperBall
    * was built for (Boldi & Vigna 2013, §5: centrality indices from
    * per-hop ball cardinalities). Harmonic centrality of v truncated
    * at H hops is Σ_{d=1..H} |{u : dist(v,u) = d}| / d; the per-hop
    * shell sizes come as differences of the [[kmvBallStates]] ball
    * estimates: H(v) ≈ Σ_h (est_h − est_{h−1}) / h with est_0 = 1
    * (the node itself). Truncation at small H is standard practice —
    * distant nodes contribute O(1/d) and real web/social graphs have
    * tiny effective diameters.
    *
    * Every term is ≥ 0 by construction: ball sketches only GROW hop
    * over hop, so below k the exact count is non-decreasing, and at
    * or above k the kth-smallest hash is non-increasing — the
    * estimator (k−1)·2⁶⁰/h₍ₖ₎ is monotone non-decreasing across hops
    * (including the exact→estimator transition, since the estimator
    * is ≥ k−1 ≥ any below-k count it replaces).
    *
    * Exactness (md5 tier): each est_h is a pure function of the
    * ball SET (partitioning/merge-order independent), and the
    * harmonic fold is a FIXED-ORDER chain of IEEE ops —
    * ((e1−1)/1 + (e2−e1)/2) + … left-associated — identical in any
    * engine given bit-equal est_h, so the q_hop_sketch replay extends
    * hash-exactly. Scale shape: the [[hopNeighborhoodEstimate]] loop
    * (one edge join + one KMV-merge aggregate per hop, messages carry
    * ONE ≤ k-long array) plus `hops` narrow self-joins of the per-hop
    * (node, est) tables — `hops` is 2-4 by contract.
    * Output: (node, harmonic_est, ball_est, exact); `exact` = 1 when
    * the FINAL ball (hence every ball) held < k members. */
  def harmonicCentralityEstimate(edges: DataFrame, src: Column, dst: Column,
                                 hops: Int, k: Int = 256,
                                 directed: Boolean = true): DataFrame = {
    val states = kmvBallStates(edges, src, dst, hops, k, directed)
    val ests = states.zipWithIndex.map { case (st, i) =>
      st.select(col("__node"), kmvBallEst(k).as(s"__e${i + 1}"))
    }
    val fin = states.last.select(col("__node"),
      size(col("__sk")).as("__kept"))
    val joined = (ests :+ fin).reduce(_.join(_, "__node"))
    val terms = (1 to hops).map { h =>
      val prev = if (h == 1) lit(1.0) else col(s"__e${h - 1}")
      (col(s"__e$h") - prev) / lit(h.toDouble)
    }
    joined.select(col("__node").cast("string").as("node"),
      terms.reduce(_ + _).as("harmonic_est"),
      col(s"__e$hops").as("ball_est"),
      (col("__kept") < k).cast("int").cast("long").as("exact"))
  }

  /** Scaled-integer NDCG discount table: disc(i) = round(scale /
    * log₂(i+1)) for ranks 1..k, via StrictMath (bit-reproducible on
    * every JVM by spec — the table is the SINGLE source of truth for
    * both the operator's literals and the generated oracle SQL, so
    * libm variation can never split them). disc(1) = scale exactly.
    * At scale=1e12 the floor error per term is < 1e-12 relative —
    * orders below any meaningful NDCG difference. */
  def ndcgDiscounts(k: Int, scale: Long = 1000000000000L): Seq[Long] =
    (1 to k).map(i => math.round(
      scale.toDouble * StrictMath.log(2.0) / StrictMath.log(i + 1.0)))

  /** Ranked-retrieval evaluation report — the gate a retrieval change
    * (new ANN index, fused ranking, BM25 tweak) runs against labeled
    * truth before shipping: per query, precision@k, recall@k,
    * reciprocal rank, and binary-relevance NDCG@k.
    *
    * Exactness: hit/relevant counts are exact integers; precision,
    * recall, and RR are ONE IEEE division of exact integers each.
    * NDCG rides the scaled-BIGINT recipe — per-rank discounts are the
    * [[ndcgDiscounts]] integer table (embedded as literals), so DCG
    * is an order-invariant integer SUM with one final division by the
    * ideal prefix sum cum(min(n_rel, k)); at scale=1e12 the cumulative
    * table tops out ~6e12 ≪ 2⁵³, so the closing long→double casts are
    * exact. Queries with no relevant docs report recall/NDCG = 0;
    * queries with no retrieved hit report RR = 0.
    *
    * Scale shape: `ranked` is already ≤ k rows per query by contract
    * (a top-k output); one broadcast-or-shuffle left join against the
    * distinct truth pairs, one per-query aggregate, one ≤ |queries|-row
    * join to the relevant counts. The report covers queries PRESENT in
    * `ranked` (a system that returns nothing for a query is audited
    * upstream by comparing query sets). Output: (qid, n_ret, n_rel,
    * hits, precision_at_k, recall_at_k, rr, ndcg_at_k). */
  def rankedEvalReport(ranked: DataFrame, qid: String, docId: String,
                       rankCol: String, truth: DataFrame, tQid: String,
                       tDocId: String, k: Int,
                       scale: Long = 1000000000000L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k $k out of [1, 1000]")
    val disc = ndcgDiscounts(k, scale)
    val cum = disc.scanLeft(0L)(_ + _).tail
    val discArr = array(disc.map(lit): _*)
    val cumArr = array(cum.map(lit): _*)
    // ranks are 1-based BY CONTRACT (the discount table indexes from
    // 1) — a 0-based rank column fails fast instead of silently
    // shifting every discount by one position
    val sys = ranked.select(col(qid).cast("string").as("__q"),
        col(docId).cast("string").as("__d"),
        when(col(rankCol).cast("long") < 1L,
            raise_error(lit("rankedEvalReport: ranks must be 1-based")))
          .otherwise(col(rankCol).cast("long")).as("__r"))
      .where(col("__r") <= k)
    val tr = truth.select(col(tQid).cast("string").as("__q"),
      col(tDocId).cast("string").as("__d")).distinct()
    val relCnt = tr.groupBy(col("__q")).agg(count(lit(1)).as("__nrel"))
    val perQ = sys.join(tr.withColumn("__hit", lit(1)),
        Seq("__q", "__d"), "left")
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("__nret"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("__hits"),
        sum(when(col("__hit") === 1,
            element_at(discArr, col("__r").cast("int")))
          .otherwise(0L)).as("__dcg"),
        min(when(col("__hit") === 1, col("__r"))).as("__minr"))
    val nrel = coalesce(col("__nrel"), lit(0L))
    val idcg = when(nrel === 0, lit(0L))
      .otherwise(element_at(cumArr, least(nrel, lit(k.toLong)).cast("int")))
    perQ.join(relCnt, Seq("__q"), "left")
      .select(col("__q").as("qid"),
        col("__nret").as("n_ret"),
        nrel.as("n_rel"),
        col("__hits").as("hits"),
        (col("__hits").cast("double") / lit(k.toDouble)).as("precision_at_k"),
        when(nrel === 0, lit(0.0))
          .otherwise(col("__hits").cast("double") / nrel.cast("double"))
          .as("recall_at_k"),
        when(col("__minr").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("__minr").cast("double")).as("rr"),
        when(idcg === 0L, lit(0.0))
          .otherwise(col("__dcg").cast("double") / idcg.cast("double"))
          .as("ndcg_at_k"))
  }

  /** Per-column IQR-fence outlier report — the numeric-hygiene
    * pre-flight next to [[columnProfile]] (which discovers shape; this
    * flags tail mass): per column, exact type-1 quartiles, Tukey
    * fences q1 − f·IQR / q3 + f·IQR, and exact counts strictly
    * outside them.
    *
    * Exactness: quartiles are [[exactQuantiles]] SELECTION (bit-exact
    * stored values, no interpolation); each fence is one fixed-order
    * IEEE expression of the two quartiles (replayed verbatim by the
    * oracle); outlier counts are exact integers against those fence
    * literals. Scale shape: per column one chunked-selection quantile
    * pass (NO single-task global sort — the [[exactQuantiles]] shape;
    * its driver fold is ≤ 2 rows per column), then ONE fused
    * all-columns aggregate pass for the counts (the [[columnProfile]]
    * shape). `cols` is small by contract (a table's numeric columns).
    * All-null columns report NULL fences and zero counts.
    * Output: (column, n_rows, q1, q3, lo_fence, hi_fence, n_below,
    * n_above), one row per requested column. */
  def numericOutlierReport(df: DataFrame, cols: Seq[String],
                           factor: Double = 1.5): DataFrame = {
    require(cols.nonEmpty, "numericOutlierReport needs columns")
    val fences: Seq[(String, Option[(Double, Double, Double, Double)])] =
      cols.map { c =>
        val qs = exactQuantiles(df, col(c), Seq(0.25, 0.75))
          .select(col("prob"), col("value")).collect()
          .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
        if (qs.isEmpty) (c, None)
        else {
          val q1 = qs(0.25); val q3 = qs(0.75)
          // fixed-order fence arithmetic — the oracle replays exactly
          // `q1 - f * (q3 - q1)` / `q3 + f * (q3 - q1)`
          (c, Some((q1, q3, q1 - factor * (q3 - q1),
            q3 + factor * (q3 - q1))))
        }
      }
    val aggs = fences.flatMap { case (c, f) =>
      val x = col(c).cast("double")
      val base = sum(when(x.isNotNull, 1L).otherwise(0L)).as(s"__n_$c")
      f match {
        case Some((_, _, lo, hi)) => Seq(base,
          sum(when(x < lit(lo), 1L).otherwise(0L)).as(s"__b_$c"),
          sum(when(x > lit(hi), 1L).otherwise(0L)).as(s"__a_$c"))
        case None => Seq(base)
      }
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fences.map { case (c, f) =>
      val (q1, q3, lo, hi, nb, na) = f match {
        case Some((q1, q3, lo, hi)) =>
          (lit(q1), lit(q3), lit(lo), lit(hi),
            col(s"__b_$c"), col(s"__a_$c"))
        case None =>
          val nd = lit(null).cast("double")
          (nd, nd, nd, nd, lit(0L), lit(0L))
      }
      struct(lit(c).as("column"), col(s"__n_$c").as("n_rows"),
        q1.as("q1"), q3.as("q3"), lo.as("lo_fence"), hi.as("hi_fence"),
        nb.as("n_below"), na.as("n_above"))
    }
    one.select(explode(array(rows.toIndexedSeq: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Event-rate spike report — the ingest/traffic anomaly gate: count
    * events per fixed window, then flag windows whose count exceeds
    * median + mult·MAD (median absolute deviation — the robust
    * location/scale pair; a mean/stddev z-score would let one huge
    * spike inflate σ and mask its neighbors).
    *
    * EVERYTHING is integer arithmetic: window starts are
    * t − pmod(t, w) on epoch seconds, counts are exact longs, the
    * median and MAD are type-1 SELECTIONS over integers
    * ([[exactQuantiles]] — values round-trip doubles exactly below
    * 2⁵³), and the threshold med + mult·mad is a long — zero float
    * ops end to end, so the oracle replay is hash-exact with no
    * margin analysis at all. Timestamps are non-negative by contract
    * (pmod flooring = the oracle's `%` on positive ints).
    *
    * Scale shape: ONE count aggregate over the events (map-side
    * partials), then two chunked selections + the flag projection on
    * the counts table, whose size is time-range/window — bounded and
    * tiny relative to the input (the [[exactQuantiles]] driver fold
    * is ≤ 2 rows). Output: (window_start, cnt, median_cnt, mad,
    * threshold, is_spike) — one row per non-empty window. */
  def spikeReport(df: DataFrame, tsEpoch: Column, windowSec: Long,
                  mult: Long = 3L): DataFrame = {
    require(windowSec >= 1, s"windowSec $windowSec must be >= 1")
    require(mult >= 1, s"mult $mult must be >= 1")
    val t = tsEpoch.cast("long")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = Dedup.materializeLazily(
      df.select((t - pmod(t, lit(windowSec))).as("__w"))
        .where(col("__w").isNotNull)
        .groupBy(col("__w")).agg(count(lit(1)).as("cnt")))
    if (counts.agg(count(lit(1))).head().getLong(0) == 0L)
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("window_start", "cnt", "median_cnt", "mad", "threshold",
          "is_spike")
    val (med, mad) = medianAndMad(counts)
    val thresh = med + mult * mad
    counts.select(col("__w").as("window_start"), col("cnt"),
      lit(med).as("median_cnt"), lit(mad).as("mad"),
      lit(thresh).as("threshold"),
      (col("cnt") > lit(thresh)).cast("int").cast("long").as("is_spike"))
  }

  /** Integer median and MAD of a `cnt` column — the robust
    * location/scale pair shared by [[spikeReport]] and [[cusumShifts]]
    * (two [[exactQuantiles]] type-1 selections; exact longs). */
  private def medianAndMad(counts: DataFrame): (Long, Long) = {
    val med = exactQuantiles(counts, col("cnt"), Seq(0.5))
      .select(col("value")).head().getDouble(0).toLong
    val mad = exactQuantiles(
        counts.select(abs(col("cnt") - lit(med)).as("__d")),
        col("__d"), Seq(0.5))
      .select(col("value")).head().getDouble(0).toLong
    (med, mad)
  }

  /** CUSUM level-shift detection over fixed event-count windows — the
    * drift complement to [[spikeReport]] (which flags POINT anomalies;
    * CUSUM accumulates small sustained deviations until they cross a
    * decision threshold — Page 1954). Reference = window-count median,
    * allowance = `slackMads`·MAD, decision threshold = `multMads`·MAD:
    * sᵢ = max(0, sᵢ₋₁ + (cntᵢ − med − slack)), flag when sᵢ > h.
    *
    * The recursion is computed WITHOUT sequential state via the
    * classic prefix identity s_i = P_i − min(0, min_{j≤i} P_j) with
    * P = prefix sum of deviations — both prefix terms ride the
    * [[prCurve]] chunked-window recipe aligned to window order
    * (per-chunk windows + one ≤ chunks-row driver fold each for the
    * sum offsets and the exclusive running-min offsets): no
    * single-partition window at any scale. ALL-integer end to end
    * (counts, selections, prefix sums) — hash-exact.
    * Output: (window_start, cnt, median_cnt, mad, cusum, threshold,
    * is_shift), one row per non-empty window. */
  def cusumShifts(df: DataFrame, tsEpoch: Column, windowSec: Long,
                  slackMads: Long = 1L, multMads: Long = 4L,
                  chunks: Int = 256): DataFrame = {
    require(windowSec >= 1, s"windowSec $windowSec must be >= 1")
    require(slackMads >= 0 && multMads >= 1 && chunks >= 1,
      s"bad params slackMads=$slackMads multMads=$multMads chunks=$chunks")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val t = tsEpoch.cast("long")
    val counts = Dedup.materializeLazily(
      df.select((t - pmod(t, lit(windowSec))).as("__w"))
        .where(col("__w").isNotNull)
        .groupBy(col("__w")).agg(count(lit(1)).as("cnt")))
    val st = counts.agg(min(col("__w")), max(col("__w"))).head()
    if (st.isNullAt(0))
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF("window_start", "cnt", "median_cnt", "mad", "cusum",
          "threshold", "is_shift")
    val (med, mad) = medianAndMad(counts)
    val slack = slackMads * mad
    val thr = multMads * mad
    val withC = scoreChunks(
      counts.withColumn("__dev", col("cnt") - lit(med + slack))
        .withColumn("__s", col("__w").cast("double")),
      st.getLong(0).toDouble, st.getLong(1).toDouble, chunks,
      descending = false)
    val Seq(offD) = chunkPrefixOffsets(withC, Seq("__dev"))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = Dedup.materializeLazily(
      withC.withColumn("__p", sum(col("__dev")).over(w) + offD))
    // exclusive running-min offsets per chunk (the chunkPrefixOffsets
    // shape with min instead of sum; Long.MaxValue = empty prefix)
    val perMin = p.groupBy(col("__chunk")).agg(min(col("__p")).as("__m"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = Long.MaxValue
    val offs = perMin.map { case (c, m) =>
      val o = (c, acc); acc = math.min(acc, m); o
    }
    val offMin = element_at(
      map(offs.flatMap { case (c, o) => Seq(lit(c), lit(o)) }
        .toIndexedSeq: _*), col("__chunk"))
    val runMin = least(lit(0L), min(col("__p")).over(w), offMin)
    p.select(col("__w").as("window_start"), col("cnt"),
      lit(med).as("median_cnt"), lit(mad).as("mad"),
      (col("__p") - runMin).as("cusum"), lit(thr).as("threshold"),
      ((col("__p") - runMin) > lit(thr)).cast("int").cast("long")
        .as("is_shift"))
  }

  /** First-order state-transition matrix over per-key ordered event
    * sequences — the Markov-chain summary behind session-flow and
    * bot-detection analyses ("what follows what"): for every key,
    * consecutive state pairs in `order` order, aggregated to global
    * (from, to) counts and row-conditional probabilities.
    *
    * Exactness: transition counts are exact integers; each
    * probability is ONE IEEE division of two exact longs (the
    * containment convention). `order` columns must be unique per key
    * by contract (ts + event id). NULL states drop their row (the
    * transitions through it splice — document, don't guess); NULL
    * keys are real groups. Scale: one per-key window (the sessionize
    * shape — Spark's spilling sort) + one (from, to) aggregate whose
    * cardinality is |states|², tiny by contract.
    * Output: (from_state, to_state, cnt, prob). */
  def transitionMatrix(df: DataFrame, key: Column, order: Seq[Column],
                       state: Column): DataFrame = {
    val c = transitionPairs(df, key, order, state)
      .groupBy(col("__p").as("from_state"), col("__s").as("to_state"))
      .agg(count(lit(1)).as("cnt"))
    val tot = c.groupBy(col("from_state")).agg(sum(col("cnt")).as("__n"))
    c.join(tot, "from_state")
      .select(col("from_state"), col("to_state"), col("cnt"),
        (col("cnt").cast("double") / col("__n").cast("double")).as("prob"))
  }

  /** Shared lag stage for the Markov family: per-key consecutive
    * (prev `__p`, current `__s`) state pairs in the declared order
    * (NULL states dropped BEFORE the lag — transitions splice). */
  private def transitionPairs(df: DataFrame, key: Column,
                              order: Seq[Column], state: Column): DataFrame = {
    require(order.nonEmpty, "transition ops need order columns")
    import org.apache.spark.sql.expressions.Window
    val v = df.select((Seq(key.cast("string").as("__k"),
        state.cast("string").as("__s")) ++
        order.zipWithIndex.map { case (o, i) => o.as(s"__o$i") }): _*)
      .where(col("__s").isNotNull)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    v.withColumn("__p", lag(col("__s"), 1).over(w))
      .where(col("__p").isNotNull)
      .select(col("__k"), col("__p"), col("__s"))
  }

  /** Per-key sequence-surprise score — the behavioral anomaly signal
    * ("does this user's event stream look like everyone else's?"):
    * average log-probability of the key's observed transitions under
    * the GLOBAL first-order [[transitionMatrix]] fitted on the same
    * data. Low scores = sequences full of globally-rare transitions
    * (bots, replay attacks, broken instrumentation); a key with
    * fewer than 2 events has no transitions and drops.
    *
    * Exactness: the q_bigram_logprob recipe — probabilities are one
    * IEEE division of exact counts; each ln is libm (1-ulp
    * cross-engine wobble at most) and the per-key average rounds to
    * 6 decimals, collapsing fp order far below score scale. Every
    * observed pair exists in the global table BY CONSTRUCTION (fitted
    * on the same pairs), so the join is total. Scale shape: the ONE
    * per-key lag window (shared stage), one |states|²-bounded
    * aggregate, one broadcast-sized probability join back, one
    * per-key average. Output: (key, n_transitions, avg_logprob). */
  def sequenceSurprise(df: DataFrame, key: Column, order: Seq[Column],
                       state: Column): DataFrame = {
    val pairs = Dedup.materializeLazily(
      transitionPairs(df, key, order, state))
    val c = pairs.groupBy(col("__p"), col("__s"))
      .agg(count(lit(1)).as("__c"))
    val tot = c.groupBy(col("__p")).agg(sum(col("__c")).as("__n"))
    val probs = c.join(tot, "__p")
      .select(col("__p"), col("__s"),
        (col("__c").cast("double") / col("__n").cast("double")).as("__pr"))
    pairs.join(probs, Seq("__p", "__s"))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("n_transitions"),
        round(avg(log(col("__pr"))), 6).as("avg_logprob"))
  }

  /** Per-key exponentially-weighted moving average at α = 1/2 — the
    * "current level" smoother (per-user engagement, per-source rate).
    * α is PINNED to 1/2 by design: each fold step is one addition and
    * one EXACT halving, s ← (x + s)/2 (the mixByTemperature α=0.5
    * precedent) — the smoothing itself introduces zero rounding
    * error. (A general α would still be cross-engine deterministic —
    * same literal, same fixed-order ops — just no longer exact; if a
    * caller needs one, add it as a variant, don't widen this
    * contract.)
    *
    * Determinism requires a total order: `order` columns must be
    * unique per key by contract (e.g. ts + event id) — the fold runs
    * over sort_array of (order..., value) structs, so the op sequence
    * is fixed regardless of partitioning. Per-key cardinality is the
    * scale bound (one in-memory array per key — the
    * [[exactQuantilesBy]] contract; audit with [[keySkewReport]]).
    * NULL values are dropped; NULL keys are real groups. Output:
    * (keys..., n, ewma). */
  def ewmaByKey(df: DataFrame, keys: Seq[Column], value: Column,
                order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "ewmaByKey needs at least one order column")
    val v = df.select((keys :+ value.cast("double").as("__x")) ++
        order.zipWithIndex.map { case (o, i) => o.as(s"__o$i") }: _*)
      .where(col("__x").isNotNull)
    val keyNames = v.columns.take(keys.size).toIndexedSeq
    val st = struct((order.indices.map(i => col(s"__o$i")) :+
      col("__x").as("__v")): _*)
    v.groupBy(keyNames.map(col): _*)
      .agg(sort_array(collect_list(st)).as("__arr"))
      .select((keyNames.map(col) :+
        size(col("__arr")).cast("long").as("n") :+
        aggregate(
          transform(slice(col("__arr"), lit(2),
            greatest(lit(0), size(col("__arr")) - 1)),
            s => s.getField("__v")),
          element_at(col("__arr"), 1).getField("__v"),
          (acc, x) => (x + acc) / lit(2.0)).as("ewma")): _*)
  }

  /** Ordered-funnel report — the product-analytics conversion count:
    * per user, the GREEDY first-occurrence chain (t₁ = first step-1
    * event; tᵢ = first step-i event strictly after tᵢ₋₁, and within
    * `maxSpanSec` of t₁ when set), then users-reaching-step counts.
    * Greedy-first is the industry-standard funnel semantics
    * (Amplitude/Mixpanel "conversion window from first step"); it is
    * deterministic and exact for the unbounded window, and the
    * DECLARED contract for bounded ones (a later first event could in
    * principle complete a window the earliest one misses — funnels
    * accept that by definition; document, don't search).
    *
    * Exactness: every comparison is on epoch-MICROSECOND longs and
    * every output an exact count — zero float ops, hash-exact.
    * Scale shape: one narrow (user, type, µs) projection; per step
    * ONE equi-join on user of the prior frontier (≤ users rows)
    * against the type-filtered events + a min aggregate — steps are
    * ≤ 8 by contract, the frontier only shrinks, and AQE broadcasts
    * it once it fits. Output: (step, event_type, n_users), step
    * 1-based, n_users non-increasing. */
  def funnelReport(df: DataFrame, user: Column, ts: Column,
                   eventType: Column, steps: Seq[String],
                   maxSpanSec: Long = -1L): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8,
      s"steps size ${steps.size} out of [1, 8]")
    val ev = df.select(user.cast("string").as("__u"),
      eventType.cast("string").as("__e"),
      unix_micros(ts.cast("timestamp")).as("__t"))
    val base = ev.where(col("__e") === steps.head)
      .groupBy(col("__u")).agg(min(col("__t")).as("__t1"))
      .select(col("__u"), col("__t1"), col("__t1").as("__tp"))
    val frontiers = steps.tail.scanLeft(base) { (prev, step) =>
      val nxt = ev.where(col("__e") === step)
        .select(col("__u").as("__nu"), col("__t"))
      val within =
        if (maxSpanSec < 0) lit(true)
        else col("__t") <= col("__t1") + lit(maxSpanSec * 1000000L)
      prev.join(nxt, col("__u") === col("__nu") &&
          col("__t") > col("__tp") && within)
        .groupBy(col("__u"))
        .agg(min(col("__t1")).as("__t1"), min(col("__t")).as("__tp"))
        .select(col("__u"), col("__t1"), col("__tp"))
    }
    frontiers.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"),
          lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Cohort-retention matrix — per signup-period cohort, how many
    * users were active again k periods later (the week-over-week
    * retention grid every ingest/product dashboard carries). Period =
    * floor(epoch_sec / periodSec); a user's cohort is their FIRST
    * active period; every (user, period) activity row contributes to
    * cell (cohort, period − cohort).
    *
    * Exactness: all-integer (period floors on non-negative epochs,
    * distinct/count aggregates) — hash-exact, no margins. Scale
    * shape: one distinct over (user, period) pairs (map-side
    * partials), one min-per-user aggregate, one user-keyed join back,
    * one count aggregate — no window, no self-join of raw events.
    * Output: (cohort_start, offset, n_users), cohort_start = epoch
    * seconds of the cohort period's floor, offset ≥ 0; offset 0 row =
    * cohort size. */
  def retentionMatrix(df: DataFrame, user: Column, ts: Column,
                      periodSec: Long): DataFrame = {
    require(periodSec >= 1, s"periodSec $periodSec must be >= 1")
    val t = unix_micros(ts.cast("timestamp"))
    val up = df.select(user.cast("string").as("__u"),
        (t - pmod(t, lit(periodSec * 1000000L))).as("__p"))
      .where(col("__u").isNotNull && col("__p").isNotNull)
      .distinct()
    val cohort = up.groupBy(col("__u")).agg(min(col("__p")).as("__c"))
    up.join(cohort, "__u")
      .groupBy((col("__c") / lit(1000000L)).cast("long").as("cohort_start"),
        ((col("__p") - col("__c")) / lit(periodSec * 1000000L))
          .cast("long").as("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Schema/statistics drift report between two snapshots — the
    * cross-ingest monitor next to [[columnProfile]] (which profiles
    * ONE snapshot): per column name, presence status
    * (added/dropped/kept), dtypes, row counts, null fractions, and
    * distinct counts from both sides.
    *
    * Exactness: counts and distincts come straight from
    * [[columnProfile]] (exact tier = per-column single-distinct
    * jobs). NOTE `exact = true` is EAGER: it runs Spark jobs for BOTH
    * snapshots at call time (columnProfile's documented exact-tier
    * contract — derived inputs are materialized once per side and
    * released, so upstream plans are never recomputed per column);
    * each null fraction is ONE IEEE division of exact longs
    * (0.0 for an empty side, NULL for an absent column — NULL
    * arithmetic propagates identically in any engine). Scale shape:
    * two profile passes + one full-outer join of two ≤ #columns-row
    * tables. Output: (column, status, dtype_old, dtype_new,
    * n_rows_old, n_rows_new, null_frac_old, null_frac_new,
    * n_distinct_old, n_distinct_new). */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame,
                   exact: Boolean = false): DataFrame = {
    val po = columnProfile(oldDf, exact).select(col("column"),
      col("dtype").as("__dt_o"), col("n_rows").as("__nr_o"),
      col("n_nulls").as("__nn_o"), col("n_distinct").as("__nd_o"))
    val pn = columnProfile(newDf, exact).select(col("column"),
      col("dtype").as("__dt_n"), col("n_rows").as("__nr_n"),
      col("n_nulls").as("__nn_n"), col("n_distinct").as("__nd_n"))
    def frac(nn: Column, nr: Column) =
      when(nr === 0, lit(0.0)).otherwise(nn.cast("double") / nr.cast("double"))
    po.join(pn, Seq("column"), "full_outer")
      .select(col("column"),
        when(col("__dt_o").isNull, lit("added"))
          .when(col("__dt_n").isNull, lit("dropped"))
          .otherwise(lit("kept")).as("status"),
        col("__dt_o").as("dtype_old"), col("__dt_n").as("dtype_new"),
        col("__nr_o").as("n_rows_old"), col("__nr_n").as("n_rows_new"),
        frac(col("__nn_o"), col("__nr_o")).as("null_frac_old"),
        frac(col("__nn_n"), col("__nr_n")).as("null_frac_new"),
        col("__nd_o").as("n_distinct_old"),
        col("__nd_n").as("n_distinct_new"))
  }

  /** Per-edge triangle support over a canonical edge set — the shared
    * stage of the k-truss family. Triangles are enumerated once each
    * via the degree-acyclic orientation (the [[triangleCountsIntersect]]
    * machinery): for oriented edge (f, t) every common out-neighbor w
    * closes exactly one triangle {f, t, w}, found here as
    * `array_intersect` of the two sorted adjacency arrays (kept INLINE
    * in the generator — the aliased-generator-child hazard). Each
    * triangle then credits its THREE canonical edges, so row volume
    * after the joins is 3 × triangles, never Σ outdeg². Adjacency
    * broadcasts under the usual row+byte guard with the shuffled O(m)
    * fallback. Output: (__u, __v, __sup) for edges in ≥ 1 triangle. */
  private def trussSupport(e: DataFrame,
                           maxBroadcastAdjacency: Long): DataFrame = {
    val oriented = orientFromCanonical(e, degreeTable(e))
    val adj = oriented.groupBy(col("__f"))
      .agg(sort_array(collect_list(col("__t"))).as("__ns"))
    val estats = oriented.agg(count(lit(1)),
      coalesce(avg(length(col("__f")) + length(col("__t"))), lit(0.0))).head()
    val small = stateBroadcastOk(estats.getLong(0).toDouble,
      estats.getDouble(1), maxBroadcastAdjacency)
    def hinted(df: DataFrame) = if (small) broadcast(df) else df
    val tri = oriented
      .join(hinted(adj.select(col("__f").as("__jf"), col("__ns").as("__nf"))),
        col("__f") === col("__jf"))
      .join(hinted(adj.select(col("__f").as("__jt"), col("__ns").as("__nt"))),
        col("__t") === col("__jt"))
      .select(col("__f"), col("__t"),
        explode(array_intersect(col("__nf"), col("__nt"))).as("__w"))
    tri.select(explode(array(
        struct(least(col("__f"), col("__t")).as("__eu"),
          greatest(col("__f"), col("__t")).as("__ev")),
        struct(least(col("__f"), col("__w")).as("__eu"),
          greatest(col("__f"), col("__w")).as("__ev")),
        struct(least(col("__t"), col("__w")).as("__eu"),
          greatest(col("__t"), col("__w")).as("__ev")))).as("__e"))
      .select(col("__e.__eu").as("__u"), col("__e.__ev").as("__v"))
      .groupBy(col("__u"), col("__v")).agg(count(lit(1)).as("__sup"))
  }

  /** Fixed-iteration k-truss peel (Cohen 2008) — the edge-level
    * cohesion filter one notch stronger than [[kCore]]: each round
    * drops every edge in fewer than k−2 triangles, so survivors sit in
    * blocks where RELATIONSHIPS (not just members) are mutually
    * reinforced — the community-core / link-ring signature degree
    * counts miss (a star passes any k-core-ish degree test but has
    * zero triangles). Fixed `iters` is the bounded oracle tier (the
    * [[kCore]] contract — each round only shrinks the edge set, and at
    * convergence-within-iters it IS the k-truss); supports are exact
    * integers, so the whole peel unrolls into chained CTEs and
    * hash-matches a DuckDB replay with zero rounding anywhere.
    *
    * Scale shape per round: one degree aggregate + orientation join
    * (O(m)), one adjacency aggregate, two guarded-broadcast joins, one
    * 3×triangles explode + (u,v) count aggregate, one left-join filter
    * back onto the O(m) edge set — never Σ outdeg² rows. Edges
    * materialize lazily per round (the components-loop recipe). Input
    * edges are canonicalized (self-loops dropped, directions/duplicates
    * merged). Output: (u, v, support) over the surviving edge set,
    * support recomputed on the FINAL graph (it may sit below k−2 when
    * `iters` truncated the peel — peel to fixpoint via
    * [[kTrussConverged]]). */
  def kTruss(edges: DataFrame, src: Column, dst: Column, k: Int,
             iters: Int = 2, maxBroadcastAdjacency: Long = 8000000L): DataFrame = {
    require(k >= 3, s"k $k must be >= 3 (k-2 triangles per edge)")
    require(iters >= 1, s"iters $iters must be >= 1")
    var e = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    var it = 0
    while (it < iters) {
      e = Dedup.materializeLazily(kTrussPeelRound(e, k, maxBroadcastAdjacency))
      it += 1
    }
    kTrussOut(e, maxBroadcastAdjacency)
  }

  private def kTrussPeelRound(e: DataFrame, k: Int,
                              maxBroadcastAdjacency: Long): DataFrame =
    e.join(trussSupport(e, maxBroadcastAdjacency), Seq("__u", "__v"), "left")
      .where(coalesce(col("__sup"), lit(0L)) >= lit((k - 2).toLong))
      .select(col("__u"), col("__v"))

  private def kTrussOut(e: DataFrame,
                        maxBroadcastAdjacency: Long): DataFrame =
    e.join(trussSupport(e, maxBroadcastAdjacency), Seq("__u", "__v"), "left")
      .select(col("__u").as("u"), col("__v").as("v"),
        coalesce(col("__sup"), lit(0L)).as("support"))

  /** [[kTruss]] peeled to FIXPOINT with early exit — the form to run
    * at 100 TB (the [[kCoreConverged]] recipe): the surviving-edge
    * count is monotone non-increasing and free on state the next round
    * materializes anyway, so an unchanged count proves every surviving
    * edge already has support ≥ k−2 — the k-truss fixpoint. Adds audit
    * columns `converged` / `rounds`. Declared driver-looped form:
    * spec'd by fixpoint equality on planted peel cascades, no oracle
    * (the fixed-iteration [[kTruss]] is the oracle tier). */
  def kTrussConverged(edges: DataFrame, src: Column, dst: Column, k: Int,
                      maxIters: Int = 50,
                      maxBroadcastAdjacency: Long = 8000000L): DataFrame = {
    require(k >= 3, s"k $k must be >= 3 (k-2 triangles per edge)")
    require(maxIters >= 1, s"maxIters $maxIters must be >= 1")
    var e = Dedup.materializeLazily(canonicalEdges(edges, src, dst))
    var prev = e.count()
    var it = 0
    var converged = false
    // each round's support is materialized so the CONVERGED round's
    // support — already computed on the final edge set — is reused
    // for the output instead of re-running the whole triangle
    // enumeration (the operator's dominant cost; r13 review)
    var lastSup: DataFrame = null
    while (it < maxIters && !converged) {
      lastSup = Dedup.materializeLazily(
        trussSupport(e, maxBroadcastAdjacency))
      val kept = Dedup.materializeLazily(
        e.join(lastSup, Seq("__u", "__v"), "left")
          .where(coalesce(col("__sup"), lit(0L)) >= lit((k - 2).toLong))
          .select(col("__u"), col("__v")))
      val n = kept.count()
      if (n == prev) converged = true else e = kept
      prev = n
      it += 1
    }
    val out =
      if (converged)
        e.join(lastSup, Seq("__u", "__v"), "left")
          .select(col("__u").as("u"), col("__v").as("v"),
            coalesce(col("__sup"), lit(0L)).as("support"))
      else kTrussOut(e, maxBroadcastAdjacency)
    out.withColumn("converged", lit(converged))
      .withColumn("rounds", lit(it))
  }

  /** Per-class precision / recall / F1 (r15) — the multi-class
    * confusion summary next to [[agreementReport]] (kappa says HOW
    * MUCH agreement beats chance; this says WHERE it fails, per
    * label): one (actual, predicted) contingency scan, then per class
    * tp / n_predicted / n_actual and three divisions. Classes
    * appearing only among predictions (or only among actuals) still
    * get rows (full-outer margins); the undefined-denominator cases
    * report 0.0 (sklearn's zero_division=0 convention — a class never
    * predicted has recall-only signal, not a crash). Rows with NULL
    * actual OR predicted drop (a pair is required). All counts exact
    * longs; precision/recall one division each; F1 = 2pr/(p+q) in the
    * verbatim op order both engines run. Scale: one partial-aggregated
    * cell scan + label-keyed joins (≤ #classes rows). Output: (label,
    * n_actual, n_predicted, tp, precision, recall, f1). */
  def classificationReport(df: DataFrame, actual: Column,
                           predicted: Column): DataFrame = {
    val cells = Dedup.materializeLazily(
      df.select(actual.cast("string").as("__a"),
          predicted.cast("string").as("__p"))
        .where(col("__a").isNotNull && col("__p").isNotNull)
        .groupBy(col("__a"), col("__p")).agg(count(lit(1)).as("__c")))
    val act = cells.groupBy(col("__a").as("__l"))
      .agg(sum(col("__c")).as("__na"))
    val prd = cells.groupBy(col("__p").as("__l"))
      .agg(sum(col("__c")).as("__np"))
    val tp = cells.where(col("__a") === col("__p"))
      .select(col("__a").as("__l"), col("__c").as("__tp"))
    val base = act.join(prd, Seq("__l"), "full_outer")
      .join(tp, Seq("__l"), "left")
      .select(col("__l"),
        coalesce(col("__na"), lit(0L)).as("n_actual"),
        coalesce(col("__np"), lit(0L)).as("n_predicted"),
        coalesce(col("__tp"), lit(0L)).as("tp"))
    // precision/recall materialized as attributes so f1 references
    // them, not re-inlined divisions
    base.select(col("__l"), col("n_actual"), col("n_predicted"),
        col("tp"),
        when(col("n_predicted") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") /
            col("n_predicted").cast("double")).as("precision"),
        when(col("n_actual") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") /
            col("n_actual").cast("double")).as("recall"))
      .select(col("__l").as("label"), col("n_actual"),
        col("n_predicted"), col("tp"), col("precision"), col("recall"),
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).as("f1"))
  }

  /** Micro/macro roll-up of [[classificationReport]] — the one-row
    * answer beside the per-class table: micro = accuracy = Σtp / n
    * (for single-label multi-class, micro-P = micro-R = micro-F1 =
    * accuracy — one exact-long division); macro = unweighted mean of
    * the per-class precision/recall/f1 over EVERY class with a row
    * (actual ∪ predicted, the sklearn labels convention), folded in
    * LABEL byte order (class count is bounded by contract, terms ≥
    * +0.0 — the fixed-order array-fold recipe, one division each).
    * Empty input → one all-zero row. Output single row: (n,
    * n_classes, accuracy, macro_precision, macro_recall, macro_f1). */
  def classificationSummary(df: DataFrame, actual: Column,
                            predicted: Column): DataFrame = {
    val rep = classificationReport(df, actual, predicted)
    def macroOf(field: String) =
      when(col("n_classes") === 0L, lit(0.0))
        .otherwise(aggregate(col("__arr"), lit(0.0),
          (acc, x) => acc + x.getField(field)) /
          col("n_classes").cast("double"))
    rep.agg(
        coalesce(sum(col("n_actual")), lit(0L)).as("n"),
        count(lit(1)).as("n_classes"),
        coalesce(sum(col("tp")), lit(0L)).as("__tp"),
        sort_array(collect_list(struct(col("label"), col("precision"),
          col("recall"), col("f1")))).as("__arr"))
      .select(col("n"), col("n_classes"),
        when(col("n") === 0L, lit(0.0))
          .otherwise(col("__tp").cast("double") / col("n").cast("double"))
          .as("accuracy"),
        macroOf("precision").as("macro_precision"),
        macroOf("recall").as("macro_recall"),
        macroOf("f1").as("macro_f1"))
  }

  /** Inter-annotator agreement — observed agreement and Cohen's kappa
    * (Cohen 1960) between two label columns: the standard check before
    * trusting ANY labeling process (two quality classifiers, a model
    * vs. a heuristic, two human raters), since raw agreement is
    * inflated by marginal chance (two raters who both say "en" 95% of
    * the time agree 90.5% by luck alone — kappa subtracts exactly
    * that). Rows where either label is NULL are dropped (an
    * abstention, not a label — document, don't guess).
    *
    * Exactness (the scaled-BIGINT discipline, here with NO scaling
    * needed): everything is exact integer/decimal(38,0) arithmetic —
    * n, the agreement count A, and the chance mass S = Σ_l rowmarg_l ×
    * colmarg_l — down to three final one-shot IEEE divisions:
    * po = A/n, pe = S/n², kappa = (A·n − S)/(n² − S). Both engines
    * convert the exact operands and divide once, so results are
    * bit-identical whenever the operands sit under 2^53 (n ≤ ~9.4e7
    * for n²; round the outputs past that — the [[herfindahlIndex]]
    * caveat). pe = 1 (denominator 0, e.g. both columns constant) →
    * kappa 0.0 by declared convention.
    *
    * Scale shape: ONE full scan into the (a, b) contingency aggregate
    * (map-side partials; |labels|² cells, tiny by contract), lazily
    * materialized; margins, totals, and S all derive from the cell
    * table — the caller's plan executes exactly once (the
    * columnProfile lesson). Output single row: (n_rows, n_agree, po,
    * pe, kappa). */
  def agreementReport(df: DataFrame, a: Column, b: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = Dedup.materializeLazily(
      df.select(a.cast("string").as("__a"), b.cast("string").as("__b"))
        .where(col("__a").isNotNull && col("__b").isNotNull)
        .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c")))
    val rowm = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ra"))
    val colm = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val tot = cells.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))), lit(0L))
        .as("__agree"))
    val chance = rowm.join(colm, col("__a") === col("__b"))
      .agg(coalesce(sum(dec(col("__ra")) * dec(col("__cb"))),
        lit(0L).cast("decimal(38,0)")).as("__s"))
    val num = dec(col("__agree")) * dec(col("__n")) - col("__s")
    val den = dec(col("__n")) * dec(col("__n")) - col("__s")
    tot.crossJoin(chance).select(
      col("__n").as("n_rows"), col("__agree").as("n_agree"),
      when(col("__n") === 0L, lit(0.0))
        .otherwise(col("__agree").cast("double") / col("__n").cast("double"))
        .as("po"),
      when(col("__n") === 0L, lit(0.0))
        .otherwise(col("__s").cast("double") /
          (col("__n").cast("double") * col("__n").cast("double"))).as("pe"),
      when(den === lit(0L).cast("decimal(38,0)"), lit(0.0))
        .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
  }

  /** k-anonymity audit (Sweeney 2002) — the privacy gate a
    * training-data release runs next to PII redaction: group rows by
    * the quasi-identifier columns and measure how much of the corpus
    * sits in groups smaller than k (each such row is re-identifiable
    * by joining the QIs against an external table). NULL QI values
    * form real groups (both engines group NULLs — matching semantics
    * by construction); all-integer counts down to the single pct
    * division. Scale shape: one partial-aggregated groupBy on the QI
    * tuple + one scalar fold over the (≤ #groups)-row table. Output
    * single row: (k, n_rows, n_groups, min_group_size, rows_below_k,
    * groups_below_k, pct_below_k). */
  def kAnonymityReport(df: DataFrame, quasi: Seq[Column], k: Int): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityReport needs quasi-identifier columns")
    require(k >= 2, s"k $k must be >= 2")
    val g = df.groupBy(quasi.zipWithIndex.map { case (q, i) =>
        q.cast("string").as(s"__q$i") }: _*)
      .agg(count(lit(1)).as("__c"))
    g.agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(min(col("__c")), lit(0L)).as("min_group_size"),
        coalesce(sum(when(col("__c") < k, col("__c"))), lit(0L))
          .as("rows_below_k"),
        coalesce(sum(when(col("__c") < k, lit(1L))), lit(0L))
          .as("groups_below_k"))
      .select(lit(k).as("k"), col("n_rows"), col("n_groups"),
        col("min_group_size"), col("rows_below_k"), col("groups_below_k"),
        when(col("n_rows") === 0L, lit(0.0))
          .otherwise(col("rows_below_k").cast("double") /
            col("n_rows").cast("double")).as("pct_below_k"))
  }

  /** Fleiss' kappa (Fleiss 1971, variable raters per item) — the
    * MULTI-rater generalization of [[agreementReport]]'s Cohen kappa:
    * chance-corrected agreement when every item carries n_i ≥ 2
    * categorical ratings (annotation quality control at corpus
    * scale). P_i = (Σ_j n_ij² − n_i)/(n_i(n_i−1)); P̄ = mean P_i;
    * P_e = Σ_j (C_j/R)²; κ = (P̄ − P_e)/(1 − P_e).
    *
    * Exactness: each P_i is ONE division of exact longs; the item
    * mean rides the ×1e12 scaled fold (the modularity recipe — a raw
    * double sum over items would be partition-order-dependent), but
    * ACCUMULATED in decimal(38,0)/HUGEINT, not BIGINT: terms reach
    * 1e12 and item count grows with the data, so a long sum would
    * ANSI-overflow at ~9.2e6 kept items (r14 advice item).
    * Grid safety: P_i·1e12 has fractional part m/(n(n−1)) whose
    * distance to the .5 boundary is ≥ 1/(2·n(n−1)) grid units — for
    * per-item rating counts in the contract range that is ≥ ~1e-2,
    * versus ulp(1e12) ≈ 1.2e-4: two orders clear, no re-profiling
    * needed as data grows (the PR/AUC structural-margin argument).
    * P_e is one division of exact decimal(38,0) operands (ΣC_j² over
    * R²); κ's final arithmetic is the identical fixed-order IEEE
    * expression in both engines. Items with n_i < 2 are EXCLUDED
    * everywhere (single-rating items carry no agreement signal —
    * their marginals would bias P_e; documented). 1 − P_e = 0 (every
    * kept rating one label) → κ = 0.0 by convention. Scale: two
    * partial-aggregated groupBys + scalar folds. Output single row:
    * (n_items, n_ratings, n_labels, p_bar, p_e, kappa). */
  def fleissKappaReport(df: DataFrame, item: Column,
                        label: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = Dedup.materializeLazily(
      df.select(item.cast("string").as("__i"),
          label.cast("string").as("__l"))
        .where(col("__i").isNotNull && col("__l").isNotNull)
        .groupBy(col("__i"), col("__l")).agg(count(lit(1)).as("__c")))
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c") * col("__c")).as("__sq"))
      .where(col("__n") >= 2L)
    val pTerm = (col("__sq") - col("__n")).cast("double") /
      (col("__n") * (col("__n") - 1L)).cast("double")
    // scaled P_i terms accumulate in decimal(38,0), NOT long: each
    // term is up to 1e12, so a LongType sum overflows (ANSI throw) at
    // ~9.2e6 kept items — and item count grows with the DATA, unlike
    // the modularity recipe where terms are per-community (r14 advice)
    val itAgg = items.agg(count(lit(1)).as("__ni"),
        coalesce(sum(col("__n")), lit(0L)).as("__nr"),
        coalesce(sum(round(pTerm * lit(1e12)).cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("__ps"))
      .head()
    val nItems = itAgg.getLong(0)
    val nRatings = itAgg.getLong(1)
    val pScaled = itAgg.getDecimal(2)
    val spark = df.sparkSession
    if (nItems == 0L)
      return spark.range(1).select(lit(0L).as("n_items"),
        lit(0L).as("n_ratings"), lit(0L).as("n_labels"),
        lit(0.0).as("p_bar"), lit(0.0).as("p_e"), lit(0.0).as("kappa"))
    val marg = cells.join(items.select(col("__i")), Seq("__i"), "left_semi")
      .groupBy(col("__l")).agg(sum(col("__c")).as("__cj"))
    val mAgg = marg.agg(count(lit(1)),
        coalesce(sum(dec(col("__cj")) * dec(col("__cj"))),
          lit(0L).cast("decimal(38,0)")),
        coalesce(sum(dec(col("__cj"))), lit(0L).cast("decimal(38,0)")))
      .head()
    val nLabels = mAgg.getLong(0)
    val peNum = mAgg.getDecimal(1)
    val r = mAgg.getDecimal(2)
    // identical fixed-order IEEE ops replayed verbatim by the oracle
    // (HUGEINT→DOUBLE and BigDecimal→double are both round-to-nearest
    // on the same exact integer — identical beyond 2^53 too)
    val pBar = new java.math.BigDecimal(pScaled.toString).doubleValue() /
      1e12 / nItems.toDouble
    val pe = new java.math.BigDecimal(peNum.toString).doubleValue() /
      new java.math.BigDecimal(r.multiply(r).toString).doubleValue()
    val kappa = if (1.0 - pe == 0.0) 0.0 else (pBar - pe) / (1.0 - pe)
    spark.range(1).select(lit(nItems).as("n_items"),
      lit(nRatings).as("n_ratings"), lit(nLabels).as("n_labels"),
      lit(pBar).as("p_bar"), lit(pe).as("p_e"), lit(kappa).as("kappa"))
  }

  /** Simpson diversity index per key — "how concentrated are this
    * source's labels": 1 − Σ_j n_j(n_j−1)/(n(n−1)), the probability
    * two draws WITHOUT replacement differ (the unbiased finite-sample
    * form, so the numerator/denominator are EXACT integers and the
    * index is ONE division — zero float arithmetic anywhere before
    * it). 0 = monoculture, → 1 = maximally diverse. NULL labels drop
    * (an unknown label diversifies nothing — the l-diversity
    * convention); NULL keys are real groups; keys with n < 2 report
    * 0.0 (no pair to draw). One cell aggregate + one keyed fold.
    * Output: (keys…, n, n_labels, simpson). */
  def simpsonDiversityBy(df: DataFrame, key: Column,
                         label: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = df.select(key.cast("string").as("__k"),
        label.cast("string").as("__l"))
      .where(col("__l").isNotNull)
      .groupBy(col("__k"), col("__l")).agg(count(lit(1)).as("__c"))
    cells.groupBy(col("__k"))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("n_labels"),
        sum(dec(col("__c")) * (dec(col("__c")) -
          lit(1L).cast("decimal(38,0)"))).as("__same"))
      .select(col("__k").as("key"), col("__n").as("n"), col("n_labels"),
        when(col("__n") < 2L, lit(0.0))
          .otherwise(lit(1.0) - col("__same").cast("double") /
            (dec(col("__n")) * (dec(col("__n")) -
              lit(1L).cast("decimal(38,0)"))).cast("double"))
          .as("simpson"))
  }

  /** Sample autocorrelation at lags 1..maxLag over integer-indexed
    * integer-valued series (per key) — the seasonality detector next
    * to [[spikeReport]]/[[cusumShifts]] (a daily-count series with
    * acf(7) ≫ acf(1..6) has weekly structure; a near-zero tail means
    * white noise). Uses the standard estimator with the SERIES mean
    * and variance: acf(L) = Σ_t (x_t−x̄)(x_{t+L}−x̄) / Σ_t (x_t−x̄)².
    *
    * Exactness: multiplying through by n² clears the mean without ever
    * forming it — n²(x_t−x̄)(x_{t+L}−x̄) = (n·x_t−S)(n·x_{t+L}−S) with
    * S = Σx, EXACT integers in decimal(38,0) — so numerator and
    * denominator are partitioning-independent exact sums and acf is
    * ONE final IEEE division (operands bit-identical cross-engine;
    * the decimal→double converts are exact under 2^53 and
    * correctly-rounded above — the agreementReport caveat). Constant
    * series (den = 0) → acf 0.0 by declared convention.
    *
    * Contract: `t` is an integer index, unique per key (pre-aggregate
    * to one row per (key, t) — e.g. day number = epoch_µs div 86400e6);
    * `value` integer-valued (counts/sums — cast truncates). Lag-L
    * pairs are rows exactly L index units apart; index gaps simply
    * contribute no pair, and lags with zero pairs emit no row
    * (document, don't invent). NULL keys drop (an unkeyable series
    * row — filtered explicitly, mirrored in oracles). Scale shape: the series table
    * materializes once (it is usually derived); one explode to
    * maxLag rows per point + ONE equi-join on (key, t+lag) — never a
    * range/cross join — then partial-aggregated sums. Output:
    * (keys..., lag, n_pairs, acf). */
  def autocorrelation(df: DataFrame, t: Column, value: Column, maxLag: Int,
                      keys: Seq[Column] = Nil): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000, s"maxLag $maxLag out of [1, 1000]")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val keyNames = keys.indices.map(i => s"__k$i")
    val v = Dedup.materializeLazily(df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } ++
          Seq(t.cast("long").as("__t"), value.cast("long").as("__x")): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__t").isNotNull && col("__x").isNotNull)(_ && _)))
    val kcols = keyNames.map(col)
    val tot = v.groupBy(kcols: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"))
    val d = Dedup.materializeLazily(v.join(tot, keyNames, "inner")
      .select(kcols ++ Seq(col("__t"),
        (dec(col("__x")) * dec(col("__n")) - dec(col("__sx"))).as("__d")): _*))
    val den = d.groupBy(kcols: _*)
      .agg(sum(col("__d") * col("__d")).as("__den"))
    val aSide = d.select(kcols ++ Seq(col("__t"), col("__d").as("__da")): _*)
      .select(col("*"),
        explode(array((1 to maxLag).map(l => lit(l.toLong)): _*)).as("__lag"))
    val bSide = d.select(
      keyNames.map(n => col(n).as(s"__b$n")) ++
        Seq(col("__t").as("__tb"), col("__d").as("__db")): _*)
    val joined = aSide.join(bSide,
      keyNames.map(n => col(n) === col(s"__b$n"))
        .foldLeft(col("__t") + col("__lag") === col("__tb"))(_ && _))
    val num = joined.groupBy(kcols :+ col("__lag"): _*)
      .agg(sum(col("__da") * col("__db")).as("__num"),
        count(lit(1)).as("n_pairs"))
    num.join(den, keyNames, "inner")
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++ Seq(
        col("__lag").as("lag"), col("n_pairs"),
        when(col("__den") === lit(0L).cast("decimal(38,0)"), lit(0.0))
          .otherwise(col("__num").cast("double") / col("__den").cast("double"))
          .as("acf")): _*)
  }

  /** Index of dispersion (variance-to-mean ratio, the Fano factor) of
    * an integer value per key — the burstiness audit next to
    * [[spikeReport]] ("are this type's daily volumes Poisson-ish
    * (≈ 1), regular (< 1), or bursty (> 1)?"). Algebra keeps it ONE
    * division of exact operands: sample variance / mean =
    * (n·Σx² − S²) / (S·(n−1)) with S = Σx — every sum exact
    * decimal(38,0), no intermediate mean, partitioning-independent.
    * mean = S/n is a second independent exact division. Conventions:
    * n < 2 or S = 0 → dispersion 0.0 (undefined ratio degrades, the
    * constant-series acf convention). NULL keys/values drop. Input is
    * the PRE-AGGREGATED series (counts per (key, period) — the q_acf
    * daily contract). Scale: one partial-aggregated groupBy, nothing
    * else. Output: (keys…, n, mean, dispersion). */
  def dispersionIndex(df: DataFrame, value: Column,
                      keys: Seq[Column] = Nil): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val keyNames = keys.indices.map(i => s"__k$i")
    val v = df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } :+
          value.cast("long").as("__x"): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__x").isNotNull)(_ && _))
    v.groupBy(keyNames.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(dec(col("__x"))).as("__s"),
        sum(dec(col("__x")) * dec(col("__x"))).as("__ss"))
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++ Seq(
        col("n"),
        (col("__s").cast("double") / col("n").cast("double")).as("mean"),
        when(col("n") < 2L || col("__s") === lit(0L).cast("decimal(38,0)"),
            lit(0.0))
          .otherwise(
            (dec(col("n")) * col("__ss") - col("__s") * col("__s"))
              .cast("double") /
            (col("__s") * (dec(col("n")) - lit(1L).cast("decimal(38,0)")))
              .cast("double"))
          .as("dispersion")): _*)
  }

  /** Per-period churn/retention flows — the dashboard companion to
    * [[stickinessRatio]]: for each period t, who of period t−1's
    * actives came back (retained), left (churned), or is new. ONE
    * distinct activity table, one full-outer self-join on
    * (period+1, id), one keyed aggregate — ALL integer. A period
    * appears when it or its predecessor had activity (churn is
    * defined against t−1's cohort; an all-quiet t still reports its
    * churn row). Output: (t, n_active, n_new, n_retained,
    * n_churned). */
  def churnReport(df: DataFrame, t: Column, id: Column): DataFrame = {
    val act = Dedup.materializeLazily(
      df.select(t.cast("long").as("__t"), id.cast("string").as("__id"))
        .where(col("__t").isNotNull && col("__id").isNotNull)
        .distinct())
    val cur = act.select(col("__t"), col("__id").as("__cid"))
    val prev = act.select((col("__t") + 1L).as("__t"),
      col("__id").as("__pid"))
    cur.join(prev, cur("__t") === prev("__t") &&
        col("__cid") === col("__pid"), "full_outer")
      .select(coalesce(cur("__t"), prev("__t")).as("__tt"),
        col("__cid"), col("__pid"))
      .groupBy(col("__tt"))
      .agg(count(col("__cid")).as("n_active"),
        count(when(col("__pid").isNull, lit(1))).as("n_new"),
        count(when(col("__cid").isNotNull && col("__pid").isNotNull,
          lit(1))).as("n_retained"),
        count(when(col("__cid").isNull, lit(1))).as("n_churned"))
      .select(col("__tt").as("t"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_churned"))
  }

  /** Type-token ratio + hapax fraction per key — the classic lexical
    * richness/health signals ("is this source boilerplate or varied
    * prose"): n_tokens = whitespace-token occurrences, n_types =
    * distinct tokens, n_hapax = tokens seen exactly once; TTR and the
    * hapax fraction are each ONE division of exact longs. BY
    * DEFINITION HERE hapax_frac = n_hapax / n_types (share of the
    * VOCABULARY that is singleton) — the literature also uses
    * n_hapax / n_tokens; both the Spark side and the q_ttr oracle
    * compute the /n_types form, so a future edit must change BOTH or
    * neither (r14 advice doc item). One (key, token) cell aggregate +
    * one keyed fold. NULL keys are real groups. Output: (key,
    * n_tokens, n_types, n_hapax, ttr, hapax_frac). */
  def ttrReport(df: DataFrame, key: Column, text: Column): DataFrame = {
    val cells = df.select(key.cast("string").as("__k"),
        explode(TextFunctions.tokens(text)).as("__w"))
      .groupBy(col("__k"), col("__w")).agg(count(lit(1)).as("__c"))
    cells.groupBy(col("__k"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__c") === 1L, lit(1L))), lit(0L))
          .as("n_hapax"))
      .select(col("__k").as("key"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_frac"))
  }

  /** Per-state next-event entropy of the [[transitionMatrix]] chain —
    * "how predictable is behavior FROM this state" (H ≈ 0 = a
    * deterministic funnel step, high H = a branching point). H(s) =
    * −Σ_t p_st·ln(p_st) folded in TO-STATE byte order via the
    * sorted-array fold (a partition-order double sum would be
    * nondeterministic); each p is an exact-long division, ln rides
    * the q_bigram_logprob/q_surprise round(6) recipe, and the final
    * negation is `0.0 − Σ` so a zero-entropy state emits +0.0, never
    * −0.0 (engines/print layers disagree on the sign bit). Output:
    * (from_state, n_transitions, entropy). */
  def markovEntropyByState(df: DataFrame, key: Column, order: Seq[Column],
                           state: Column): DataFrame = {
    val tm = transitionMatrix(df, key, order, state)
    tm.groupBy(col("from_state"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_transitions"),
        sort_array(collect_list(struct(col("to_state"), col("prob"))))
          .as("__arr"))
      .select(col("from_state"), col("n_transitions"),
        round(lit(0.0) - aggregate(col("__arr"), lit(0.0),
          (a, x) => a + x.getField("prob") * log(x.getField("prob"))), 6)
          .as("entropy"))
  }

  /** DAU/WAU stickiness ratio — "what fraction of the rolling active
    * base was active TODAY": the engagement series product teams
    * watch next to [[rollingDistinctCount]] (which supplies both
    * sides EXACTLY — no sliding-HLL). The raw input is scanned and
    * deduplicated ONCE (materialized distinct activity table — r14
    * self-review: the first cut let each window pass re-scan and
    * re-distinct the raw events); the window-1 (daily) and window-w
    * counts join on the period; stickiness is ONE division of exact
    * longs per day. Conventions from rollingDistinctCount: leading
    * partial windows emitted, periods run to the max observed; a
    * quiet day within `window` of some activity appears with dau = 0,
    * but a day in an all-quiet stretch LONGER than the window is
    * covered by no trailing activity window and is absent (document,
    * don't invent). Output: (t, dau, rolling_active, stickiness). */
  def stickinessRatio(df: DataFrame, t: Column, id: Column,
                      window: Int = 7): DataFrame = {
    require(window >= 2, s"window $window must be >= 2 (1 is just DAU)")
    val act = Dedup.materializeLazily(
      df.select(t.cast("long").as("__at"), id.cast("string").as("__aid"))
        .where(col("__at").isNotNull && col("__aid").isNotNull)
        .distinct())
    val wau = rollingDistinctCount(act, col("__at"), col("__aid"), window)
      .select(col("t"), col("n_active").as("rolling_active"))
    val dau = rollingDistinctCount(act, col("__at"), col("__aid"), window = 1)
      .select(col("t"), col("n_active").as("dau"))
    wau.join(dau, Seq("t"), "left")
      .select(col("t"), coalesce(col("dau"), lit(0L)).as("dau"),
        col("rolling_active"),
        when(col("rolling_active") === 0L, lit(0.0))
          .otherwise(coalesce(col("dau"), lit(0L)).cast("double") /
            col("rolling_active").cast("double")).as("stickiness"))
  }

  /** Cross-correlation function of two integer series per key at lags
    * 0..maxLag — the lead/lag detector next to [[autocorrelation]]
    * ("do purchases follow views by k days?"): r_L = Σ_t (x_t−x̄)
    * (y_{t+L}−ȳ) / √(Σ(x−x̄)²·Σ(y−ȳ)²), computed with the acf
    * n²-scaled mean-clearing identity so numerator and BOTH
    * denominator sums are EXACT decimal(38,0) (the n² factors
    * cancel between num and √(den·den)). The one libm call is sqrt —
    * IEEE-754 requires correctly-rounded sqrt, so unlike pow/ln it is
    * bit-identical cross-engine; num/√(dx·dy) stacks one multiply,
    * one sqrt, one division of identical operands. Zero-variance
    * side → ccf 0.0 by convention.
    *
    * Contracts as [[autocorrelation]]: `t` integer and unique per
    * key, BOTH values integer-valued on the same row (build the wide
    * series first), gaps contribute no pair, lags with zero pairs
    * emit no row, NULL keys/t/values drop. Lag 0 included (the
    * instant-correlation row). Scale: series materializes once, one
    * explode to maxLag+1 rows + ONE equi-join on (key, t+lag).
    * Output: (keys…, lag, n_pairs, ccf). */
  def crossCorrelation(df: DataFrame, t: Column, x: Column, y: Column,
                       maxLag: Int, keys: Seq[Column] = Nil): DataFrame = {
    require(maxLag >= 0 && maxLag <= 1000, s"maxLag $maxLag out of [0, 1000]")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val keyNames = keys.indices.map(i => s"__k$i")
    val v = Dedup.materializeLazily(df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } ++
          Seq(t.cast("long").as("__t"), x.cast("long").as("__x"),
            y.cast("long").as("__y")): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__t").isNotNull && col("__x").isNotNull &&
          col("__y").isNotNull)(_ && _)))
    val kcols = keyNames.map(col)
    val tot = v.groupBy(kcols: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"))
    val d = Dedup.materializeLazily(v.join(tot, keyNames, "inner")
      .select(kcols ++ Seq(col("__t"),
        (dec(col("__x")) * dec(col("__n")) - dec(col("__sx"))).as("__dx"),
        (dec(col("__y")) * dec(col("__n")) - dec(col("__sy"))).as("__dy")): _*))
    val den = d.groupBy(kcols: _*)
      .agg(sum(col("__dx") * col("__dx")).as("__dxx"),
        sum(col("__dy") * col("__dy")).as("__dyy"))
    val aSide = d.select(kcols ++ Seq(col("__t"), col("__dx").as("__da")): _*)
      .select(col("*"),
        explode(array((0 to maxLag).map(l => lit(l.toLong)): _*)).as("__lag"))
    val bSide = d.select(
      keyNames.map(n => col(n).as(s"__b$n")) ++
        Seq(col("__t").as("__tb"), col("__dy").as("__db")): _*)
    val joined = aSide.join(bSide,
      keyNames.map(n => col(n) === col(s"__b$n"))
        .foldLeft(col("__t") + col("__lag") === col("__tb"))(_ && _))
    val num = joined.groupBy(kcols :+ col("__lag"): _*)
      .agg(sum(col("__da") * col("__db")).as("__num"),
        count(lit(1)).as("n_pairs"))
    num.join(den, keyNames, "inner")
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++ Seq(
        col("__lag").as("lag"), col("n_pairs"),
        when(col("__dxx") === lit(0L).cast("decimal(38,0)") ||
            col("__dyy") === lit(0L).cast("decimal(38,0)"), lit(0.0))
          .otherwise(col("__num").cast("double") /
            sqrt(col("__dxx").cast("double") * col("__dyy").cast("double")))
          .as("ccf")): _*)
  }

  /** Frequent length-3 state sequences over per-key ordered events —
    * the order-2 extension of [[transitionMatrix]] (a first-order
    * matrix can't see that view→click→purchase and view→click→abandon
    * diverge at the THIRD step; funnels, bot loops, and navigation
    * mining all live at this depth). Counts are exact integers.
    * Semantics match the Markov family exactly: NULL states drop
    * BEFORE the lag (transitions splice), `order` columns unique per
    * key by contract, NULL keys are real groups. Scale: ONE per-key
    * window (the sessionize spilling-sort shape — no arrays, no
    * collect_list) with two lags + one (s₁,s₂,s₃) aggregate whose
    * cardinality is ≤ |states|³, tiny by contract. Output:
    * (step_1, step_2, step_3, support), support ≥ `minSupport`. */
  def sequenceTrigrams(df: DataFrame, key: Column, order: Seq[Column],
                       state: Column, minSupport: Long = 1L): DataFrame = {
    require(order.nonEmpty, "sequenceTrigrams needs order columns")
    require(minSupport >= 1L, s"minSupport $minSupport must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val v = df.select((Seq(key.cast("string").as("__k"),
        state.cast("string").as("__s")) ++
        order.zipWithIndex.map { case (o, i) => o.as(s"__o$i") }): _*)
      .where(col("__s").isNotNull)
    val w = Window.partitionBy(col("__k"))
      .orderBy(order.indices.map(i => col(s"__o$i")): _*)
    v.withColumn("__p1", lag(col("__s"), 1).over(w))
      .withColumn("__p2", lag(col("__s"), 2).over(w))
      .where(col("__p2").isNotNull && col("__p1").isNotNull)
      .groupBy(col("__p2").as("step_1"), col("__p1").as("step_2"),
        col("__s").as("step_3"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the companion
    * gate to [[kAnonymityReport]]: k-anonymity alone fails when a
    * QI group is large but HOMOGENEOUS in the sensitive attribute
    * (everyone in the group shares one salary bucket → joining the
    * QIs still discloses it). Distinct l-diversity: every QI group
    * must contain ≥ l distinct sensitive values. NULL QI values form
    * real groups (the kAnonymityReport contract); NULL sensitive
    * values do NOT count toward diversity (count_distinct ignores
    * them in both engines — an unknown value protects nobody), so an
    * all-NULL-sensitive group scores 0 distinct. All-integer to one
    * pct division. Scale shape: one partial-aggregated groupBy on
    * (QI, count_distinct sensitive) + one scalar fold. Output single
    * row: (l, n_rows, n_groups, min_distinct_sensitive,
    * rows_below_l, groups_below_l, pct_below_l). */
  def lDiversityReport(df: DataFrame, quasi: Seq[Column],
                       sensitive: Column, l: Int): DataFrame = {
    require(quasi.nonEmpty, "lDiversityReport needs quasi-identifier columns")
    require(l >= 2, s"l $l must be >= 2")
    val g = df.groupBy(quasi.zipWithIndex.map { case (q, i) =>
        q.cast("string").as(s"__q$i") }: _*)
      .agg(count(lit(1)).as("__c"),
        count_distinct(sensitive.cast("string")).as("__d"))
    g.agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(min(col("__d")), lit(0L)).as("min_distinct_sensitive"),
        coalesce(sum(when(col("__d") < l, col("__c"))), lit(0L))
          .as("rows_below_l"),
        coalesce(sum(when(col("__d") < l, lit(1L))), lit(0L))
          .as("groups_below_l"))
      .select(lit(l).as("l"), col("n_rows"), col("n_groups"),
        col("min_distinct_sensitive"), col("rows_below_l"),
        col("groups_below_l"),
        when(col("n_rows") === 0L, lit(0.0))
          .otherwise(col("rows_below_l").cast("double") /
            col("n_rows").cast("double")).as("pct_below_l"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — completes
    * the privacy triad next to [[kAnonymityReport]] /
    * [[lDiversityReport]]: a QI group can pass l-diversity (many
    * distinct sensitive values) while its sensitive DISTRIBUTION
    * still leaks (90% of one salary bucket where the population holds
    * 10%). For an ORDERED sensitive attribute the Earth Mover's
    * Distance with unit adjacent-step cost is the normalized sum of
    * absolute prefix deviations: EMD(P_g, P) = Σ_j |Σ_{v≤j} (g_v/n_g −
    * G_v/N)| / (m−1) over the m GLOBAL distinct values.
    *
    * Exactness: scale each prefix term by n_g·N — cum_j = Σ_{v≤j}
    * (g_v·N − G_v·n_g), EXACT decimal(38,0)/HUGEINT integers — so
    * EMD is ONE final division of exact operands per group, and the
    * `groups_above_t` count compares cross-multiplied
    * (Σ|cum| vs t·n_g·N·(m−1), one identical IEEE multiply+compare in
    * both engines — no division boundary anywhere near the count).
    *
    * Contract: `sensitive` is integer-valued (bucket it first —
    * floor(x/width); cast truncates), since the ordering must be the
    * VALUE order in both engines (a string cast would sort "10" <
    * "2"). NULL sensitive rows are EXCLUDED from the distributions
    * (an unknown value has no position in the ordered domain; NULL
    * leakage is [[lDiversityReport]]'s job) and reported as
    * `n_null_sensitive`. NULL QI values form real groups (the
    * kAnonymityReport contract). m = 1 (or 0) defines EMD = 0.
    *
    * Scale shape: one (QI, value) cell aggregate; the value grid
    * joins BROADCAST (m = #distinct buckets, small by contract);
    * the prefix window partitions by GROUP over m rows — never a
    * single-partition window; one scalar fold. Output single row:
    * (t, n_rows, n_null_sensitive, n_groups, n_values, max_emd,
    * groups_above_t, rows_above_t, pct_rows_above_t). */
  def tClosenessReport(df: DataFrame, quasi: Seq[Column],
                       sensitive: Column, t: Double): DataFrame = {
    require(quasi.nonEmpty, "tClosenessReport needs quasi-identifier columns")
    require(t > 0 && t < 1, s"t $t outside (0,1)")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val qNames = quasi.indices.map(i => s"__q$i")
    val (gridOpt, m, bigN, nNull, nGroupsEmpty) =
      prefixDeviationGrid(df, quasi, sensitive)
    if (gridOpt.isEmpty) {
      return df.sparkSession.range(1).select(lit(t).as("t"),
        lit(bigN).as("n_rows"), lit(nNull).as("n_null_sensitive"),
        lit(nGroupsEmpty).as("n_groups"), lit(m).as("n_values"),
        lit(0.0).as("max_emd"), lit(0L).as("groups_above_t"),
        lit(0L).as("rows_above_t"), lit(0.0).as("pct_rows_above_t"))
    }
    // the m-th prefix is exactly 0 (both distributions sum to 1), so
    // summing all m |cum| terms equals the first m−1 — no slice needed
    val perGroup = gridOpt.get
      .groupBy(qNames.map(col) :+ col("__ng"): _*)
      .agg(sum(abs(col("__cum"))).as("__emds"))
    val scaleOf = dec(col("__ng")) * dec(lit(bigN)) * dec(lit(m - 1L))
    val above = col("__emds").cast("double") >
      lit(t) * scaleOf.cast("double")
    perGroup.agg(
        count(lit(1)).as("n_groups"),
        max(col("__emds").cast("double") / scaleOf.cast("double"))
          .as("max_emd"),
        coalesce(sum(when(above, lit(1L))), lit(0L)).as("groups_above_t"),
        coalesce(sum(when(above, col("__ng"))), lit(0L)).as("rows_above_t"))
      .select(lit(t).as("t"), lit(bigN).as("n_rows"),
        lit(nNull).as("n_null_sensitive"), col("n_groups"),
        lit(m).as("n_values"), col("max_emd"), col("groups_above_t"),
        col("rows_above_t"),
        (col("rows_above_t").cast("double") / lit(bigN.toDouble))
          .as("pct_rows_above_t"))
  }

  /** Shared per-group ordered prefix-deviation grid behind
    * [[tClosenessReport]] (Σ|cum| = EMD) and [[ksDriftReport]]
    * (max|cum| = K-S D): one (group, value) cell aggregate, a
    * BROADCAST value-grid cross join (m = #distinct integer values,
    * small by contract), a NULL-SAFE cell attach (<=> — NULL group
    * keys form real groups, the exactQuantilesBy r11 fix class), and
    * one per-group window over m rows computing
    * cum_j = Σ_{v≤j} (g_v·N − G_v·n_g) in EXACT decimal(38,0).
    * Returns (grid with __q…/__ng/__s/__cum, m, N, n_null,
    * n_groups-for-the-degenerate-path); grid is None when m ≤ 1 or
    * N = 0 (every deviation is 0 by definition). */
  private def prefixDeviationGrid(df: DataFrame, keys: Seq[Column],
      value: Column,
      needNullCount: Boolean = true): (Option[DataFrame], Long, Long, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column) = c.cast("decimal(38,0)")
    val qNames = keys.indices.map(i => s"__q$i")
    val base = df.select(keys.zipWithIndex.map { case (q, i) =>
      q.cast("string").as(s"__q$i") } :+ value.cast("long").as("__s"): _*)
    // the null count is a FULL extra scan — only run it for callers
    // that report it (t-closeness; K-S discards it — r14 self-review)
    val nNull = if (needNullCount) base.where(col("__s").isNull).count()
                else 0L
    val cells = Dedup.materializeLazily(
      base.where(col("__s").isNotNull)
        .groupBy(qNames.map(col) :+ col("__s"): _*)
        .agg(count(lit(1)).as("__gc")))
    val groups = cells.groupBy(qNames.map(col): _*)
      .agg(sum(col("__gc")).as("__ng"))
    val vals = cells.groupBy(col("__s")).agg(sum(col("__gc")).as("__gv"))
    val stats = vals.agg(count(lit(1)), coalesce(sum(col("__gv")), lit(0L)))
      .head()
    val m = stats.getLong(0)
    val bigN = stats.getLong(1)
    if (m <= 1L || bigN == 0L) {
      val ng = groups.agg(count(lit(1))).head().getLong(0)
      return (None, m, bigN, nNull, ng)
    }
    val cellsR = cells.select(qNames.map(n => col(n).as(s"__c$n")) :+
      col("__s").as("__cs") :+ col("__gc"): _*)
    val grid = groups.crossJoin(broadcast(vals.select(col("__s"), col("__gv"))))
      .join(cellsR, qNames.map(n => col(n) <=> col(s"__c$n"))
        .foldLeft(col("__s") === col("__cs"))(_ && _), "left")
      .select(qNames.map(col) :+ col("__ng") :+ col("__s") :+
        (dec(coalesce(col("__gc"), lit(0L))) * dec(lit(bigN)) -
          dec(col("__gv")) * dec(col("__ng"))).as("__diff"): _*)
    val w = Window.partitionBy(qNames.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (Some(grid.withColumn("__cum", sum(col("__diff")).over(w))),
      m, bigN, nNull, 0L)
  }

  /** Per-group two-sample Kolmogorov–Smirnov drift scan — "which
    * sources' value distributions have drifted from the corpus":
    * D_g = max_j |CDF_g(j) − CDF(j)| of each group against the WHOLE
    * population over the ordered integer value grid (the
    * [[tClosenessReport]] machinery with max|cum| for Σ|cum| — EMD
    * integrates total distributional distance, K-S flags the single
    * worst crossing, the classic drift alarm). Exactness: D_g is ONE
    * division of the exact max|cum| by n_g·N. Same contracts:
    * integer-valued `value` (bucket first), NULL values excluded,
    * NULL group keys are real groups. m ≤ 1 → every D = 0. Output:
    * (keys…, n, d_stat), one row per group. */
  def ksDriftReport(df: DataFrame, keys: Seq[Column],
                    value: Column): DataFrame = {
    require(keys.nonEmpty, "ksDriftReport needs group key columns")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val qNames = keys.indices.map(i => s"__q$i")
    val outKeys = keys.indices.map(i => col(s"__q$i").as(s"key$i"))
    val (gridOpt, _, bigN, _, _) =
      prefixDeviationGrid(df, keys, value, needNullCount = false)
    if (gridOpt.isEmpty) {
      // degenerate domain: rebuild the group list so every group still
      // reports (with D = 0 by definition)
      val base = df.select(keys.zipWithIndex.map { case (q, i) =>
        q.cast("string").as(s"__q$i") } :+ value.cast("long").as("__s"): _*)
      return base.where(col("__s").isNotNull)
        .groupBy(qNames.map(col): _*).agg(count(lit(1)).as("n"))
        .select(outKeys :+ col("n") :+ lit(0.0).as("d_stat"): _*)
    }
    gridOpt.get
      .groupBy(qNames.map(col) :+ col("__ng"): _*)
      .agg(max(abs(col("__cum"))).as("__dmax"))
      .select(outKeys :+ col("__ng").as("n") :+
        (col("__dmax").cast("double") /
          (dec(col("__ng")) * dec(lit(bigN))).cast("double"))
          .as("d_stat"): _*)
  }

  /** Gini coefficient of the per-key row distribution — the
    * inequality audit next to [[herfindahlIndex]] (HHI asks "how
    * concentrated are the top keys"; Gini asks "how unequal is the
    * WHOLE distribution" — a corpus where every domain contributes
    * equally scores 0, one domain owning everything scores → 1).
    * Estimator: G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·S) / (n·S) over
    * ascending-sorted per-key counts — tie order cannot matter
    * (equal values × any rank permutation sum identically), so no
    * tiebreak is needed and the oracle's row_number replay is exact.
    *
    * Exactness: the doubled rank-sum 2R = Σ_v v·(2·cnt_v·C_prev +
    * cnt_v·(cnt_v+1)) over DISTINCT count values v stays integral in
    * decimal(38,0) (no /2 anywhere); G is ONE final IEEE division of
    * exact operands. Scale shape: one per-key count aggregate, one
    * distinct-value aggregate (cardinality = #distinct counts, small
    * by nature), then the prCurve chunked-prefix recipe — value-range
    * chunks + driver exclusive offsets + a per-chunk window — so
    * there is NO single-partition window and NO global sort. Eager
    * (driver stats reads — the exactQuantiles convention). Output
    * single row: (n_keys, n_rows, gini). */
  def giniIndex(df: DataFrame, key: Column, chunks: Int = 256): DataFrame = {
    require(chunks >= 1, s"chunks $chunks must be >= 1")
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column) = c.cast("decimal(38,0)")
    val per = df.select(key.cast("string").as("__k"))
      .groupBy(col("__k")).agg(count(lit(1)).as("__x"))
    val perV = Dedup.materializeLazily(per.groupBy(col("__x").as("__v"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__x")).as("__mass")))
    val stats = perV.agg(
      min(col("__v").cast("double")), max(col("__v").cast("double")),
      coalesce(sum(col("__cnt")), lit(0L)),
      coalesce(sum(col("__mass")), lit(0L))).head()
    if (stats.isNullAt(0))
      return df.sparkSession.range(1).select(lit(0L).as("n_keys"),
        lit(0L).as("n_rows"), lit(0.0).as("gini"))
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    val n = stats.getLong(2)
    val s = stats.getLong(3)
    val withC = scoreChunks(perV.withColumn("__s", col("__v").cast("double")),
      lo, hi, chunks, descending = false)
    val Seq(off) = chunkPrefixOffsets(withC, Seq("__cnt"))
    val w = Window.partitionBy(col("__chunk")).orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cPrev = sum(col("__cnt")).over(w) + off - col("__cnt")
    val twoR = withC
      .withColumn("__term", dec(col("__v")) *
        (lit(2).cast("decimal(38,0)") * dec(col("__cnt")) * dec(cPrev) +
          dec(col("__cnt")) * (dec(col("__cnt")) + lit(1).cast("decimal(38,0)"))))
      .agg(coalesce(sum(col("__term")), lit(0L).cast("decimal(38,0)"))
        .as("__2r"))
    val num = col("__2r") - (dec(lit(n)) + lit(1).cast("decimal(38,0)")) * dec(lit(s))
    twoR.select(lit(n).as("n_keys"), lit(s).as("n_rows"),
      (if (s == 0L || n == 0L) lit(0.0)
       else num.cast("double") / (dec(lit(n)) * dec(lit(s))).cast("double"))
        .as("gini"))
  }

  /** Trailing-window distinct count per period — the WAU/MAU family
    * ("distinct users active in the 7 days ending at each day"),
    * EXACT (no sliding-HLL approximation): each distinct
    * (key, period, id) row is exploded to the `window` trailing
    * windows it contributes to, then one count_distinct per window
    * end. Pre-dedup bounds the explode at `window` × the distinct
    * activity table (NOT raw events), and the final aggregate dedups
    * map-side. Output windows run to each key's max observed period;
    * leading PARTIAL windows are emitted (standard dashboard
    * semantics — the first w−1 periods cover shorter spans); gap
    * periods inside the range appear with the actives of their
    * trailing span. All-integer. `t` is an integer period index
    * (e.g. epoch-day); NULL key/t/id rows drop. Output:
    * (keys…, t, n_active) — t is the window END. */
  def rollingDistinctCount(df: DataFrame, t: Column, id: Column,
                           window: Int,
                           keys: Seq[Column] = Nil): DataFrame = {
    require(window >= 1 && window <= 366, s"window $window out of [1, 366]")
    val keyNames = keys.indices.map(i => s"__k$i")
    val kcols = keyNames.map(col)
    val v = df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } ++
          Seq(t.cast("long").as("__t"), id.cast("string").as("__id")): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__t").isNotNull && col("__id").isNotNull)(_ && _))
      .distinct()
    val mx = v.groupBy(kcols: _*).agg(max(col("__t")).as("__mx"))
    v.select(kcols ++ Seq(col("__t"), col("__id"),
        explode(sequence(lit(0L), lit((window - 1).toLong))).as("__off")): _*)
      .select(kcols ++ Seq((col("__t") + col("__off")).as("__te"),
        col("__id")): _*)
      .join(mx, keyNames, "inner")
      .where(col("__te") <= col("__mx"))
      .groupBy(kcols :+ col("__te"): _*)
      .agg(count_distinct(col("__id")).as("n_active"))
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++
        Seq(col("__te").as("t"), col("n_active")): _*)
  }

  /** Per-key Holt linear (double-exponential) smoothing at
    * α = β = 1/2 — the trend-aware upgrade of [[ewmaByKey]] (an EWMA
    * lags a trending series forever; Holt carries an explicit trend
    * state and its one-step forecast is level + trend). Pinned
    * α = β = 1/2 by the ewma convention: every fold step is
    * additions/subtractions and EXACT halvings in a FIXED order, so
    * the result is bit-identical cross-engine (DuckDB replays the
    * identical fold via list_reduce over [level, trend] list states).
    * Init (Hyndman): l₁ = x₁, b₁ = x₂ − x₁ — at α = β = 1/2 the first
    * update then collapses to l₂ = x₂, b₂ = x₂ − x₁, which is what
    * the NULL-trend first fold step computes. n = 1 keys emit
    * trend 0.
    *
    * Contract and scale shape are [[ewmaByKey]]'s exactly: `order`
    * unique per key, one in-memory array per key (audit with
    * [[keySkewReport]]), NULL values drop, NULL keys are real groups.
    * Output: (keys…, n, level, trend, forecast) with
    * forecast = level + trend. */
  def holtLinearByKey(df: DataFrame, keys: Seq[Column], value: Column,
                      order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "holtLinearByKey needs at least one order column")
    val v = df.select((keys :+ value.cast("double").as("__x")) ++
        order.zipWithIndex.map { case (o, i) => o.as(s"__o$i") }: _*)
      .where(col("__x").isNotNull)
    val keyNames = v.columns.take(keys.size).toIndexedSeq
    val st = struct((order.indices.map(i => col(s"__o$i")) :+
      col("__x").as("__v")): _*)
    val init = struct(
      element_at(col("__arr"), 1).getField("__v").as("l"),
      lit(null).cast("double").as("b"))
    val folded = aggregate(
      transform(slice(col("__arr"), lit(2),
        greatest(lit(0), size(col("__arr")) - 1)),
        s => s.getField("__v")),
      init,
      (acc, x) => {
        val l = acc.getField("l")
        val b = acc.getField("b")
        val nl = (x + (l + b)) / lit(2.0)
        val nb = ((nl - l) + b) / lit(2.0)
        when(b.isNull, struct(x.as("l"), (x - l).as("b")))
          .otherwise(struct(nl.as("l"), nb.as("b")))
      })
    v.groupBy(keyNames.map(col): _*)
      .agg(sort_array(collect_list(st)).as("__arr"))
      .select((keyNames.map(col) :+
        size(col("__arr")).cast("long").as("n") :+
        folded.getField("l").as("level") :+
        coalesce(folded.getField("b"), lit(0.0)).as("trend") :+
        (folded.getField("l") +
          coalesce(folded.getField("b"), lit(0.0))).as("forecast")): _*)
  }

  /** Holt-Winters additive SEASONAL smoothing at α = β = γ = ½ — the
    * completion [[holtLinearByKey]] and the q_acf seasonality
    * detector beg for: level + trend + an m-period additive seasonal
    * component (pick `period` from the acf peak, e.g. 7 for daily
    * series with weekly structure).
    *
    * Recurrences (Hyndman & Athanasopoulos, additive form), all
    * halvings: l_t = ((x_t − s_{t−m}) + (l + b))/2,
    * b_t = ((l_t − l) + b)/2, s_t = ((x_t − l_t) + s_{t−m})/2.
    * Init (simple convention, documented): l = mean of the first
    * season (ONE division by m — identical IEEE op in both engines),
    * b = 0, s_j = x_j − l for j = 1..m; the fold starts at t = m+1.
    * Every operation is IEEE +,−,/ in a FIXED order, so the fold is
    * bit-identical cross-engine and the DuckDB replay rides the
    * [[ewmaByKey]] list_reduce recipe with an (m+2)-element LIST
    * accumulator [l, b, s_1..s_m] (acc-first, singleton-list
    * elements — the q_holt convention).
    *
    * Contract: per-key series bounded (the sorted-fold shape —
    * collect_list per key; daily/hourly rollups, audit with
    * [[keySkewReport]]); `order` columns non-null by contract; keys
    * with n < `period` points are DROPPED (no season can be seeded —
    * documented, not invented). Fold-lambda bodies reference only
    * acc/element (no captured computed children — the interpreted-HOF
    * hazard); the seasonal init captures the MATERIALIZED `__l0`
    * attribute, O(1) per element. Output: (keys…, n, level, trend,
    * seasonal_next, forecast) where seasonal_next is the factor due
    * at t+1 and forecast = level + trend + seasonal_next. */
  def holtWintersByKey(df: DataFrame, keys: Seq[Column], value: Column,
                       order: Seq[Column], period: Int): DataFrame = {
    require(order.nonEmpty, "holtWintersByKey needs at least one order column")
    require(period >= 2 && period <= 366,
      s"period $period outside [2, 366]")
    val m = period
    val v = df.select((keys :+ value.cast("double").as("__x")) ++
        order.zipWithIndex.map { case (o, i) => o.as(s"__o$i") }: _*)
      .where(col("__x").isNotNull)
    val keyNames = v.columns.take(keys.size).toIndexedSeq
    val st = struct((order.indices.map(i => col(s"__o$i")) :+
      col("__x").as("__v")): _*)
    val grouped = v.groupBy(keyNames.map(col): _*)
      .agg(sort_array(collect_list(st)).as("__arr"))
      .where(size(col("__arr")) >= m)
      .withColumn("__vals", transform(col("__arr"), _.getField("__v")))
      .withColumn("__l0",
        aggregate(slice(col("__vals"), 1, m), lit(0.0), (a, x) => a + x) /
          lit(m.toDouble))
    val init = struct(
      col("__l0").as("l"), lit(0.0).as("b"),
      transform(slice(col("__vals"), 1, m), x => x - col("__l0")).as("s"))
    val folded = aggregate(
      slice(col("__vals"), lit(m + 1),
        greatest(lit(0), size(col("__vals")) - m)),
      init,
      (acc, x) => {
        val l = acc.getField("l")
        val b = acc.getField("b")
        val s = acc.getField("s")
        val sOld = element_at(s, 1)
        val nl = ((x - sOld) + (l + b)) / lit(2.0)
        val nb = ((nl - l) + b) / lit(2.0)
        val ns = ((x - nl) + sOld) / lit(2.0)
        struct(nl.as("l"), nb.as("b"),
          concat(slice(s, 2, m - 1), array(ns)).as("s"))
      })
    // materialize the fold ONCE — referencing the aggregate expression
    // from four output columns would re-run the whole fold 4x per row
    // (multi-referenced attribute => CollapseProject keeps it)
    grouped.withColumn("__hw", folded)
      .select((keyNames.map(col) :+
        size(col("__arr")).cast("long").as("n") :+
        col("__hw").getField("l").as("level") :+
        col("__hw").getField("b").as("trend") :+
        element_at(col("__hw").getField("s"), 1).as("seasonal_next") :+
        (col("__hw").getField("l") + col("__hw").getField("b") +
          element_at(col("__hw").getField("s"), 1)).as("forecast")): _*)
  }

  /** Forecast-accuracy evaluator (MAE / sMAPE / MASE) — closes the
    * time-series loop the way rankedEvalReport closed ANN's (r14
    * verdict item 4): [[holtLinearByKey]] / [[holtWintersByKey]] and
    * the naive baselines produce forecasts; this scores any
    * (key, t, prediction) table against the actual series on a
    * holdout the caller defines by what they put in `forecasts`.
    *
    * Per key: the holdout is the joined (forecast, actual) rows; the
    * TRAIN window is every actual strictly before the key's FIRST
    * forecast time. MAE = mean |ŷ−y| over the holdout; sMAPE = mean
    * 2|ŷ−y|/(|ŷ|+|y|) (the [0,2] fraction form — multiply by 100
    * yourself; both-zero points contribute 0); MASE (Hyndman &
    * Koehler 2006) = MAE / mean in-sample one-step SEASONAL-NAIVE
    * error |y_t − y_{t−period}| over train pairs at exact lag
    * `period` (an explode-free EQUI join on t−period, the q_acf
    * shape) — < 1 beats the seasonal-naive baseline. NULL when no
    * train lag pair exists or the denominator is exactly 0 (a
    * perfectly periodic train series — undefined, not invented).
    *
    * Determinism: every mean rides a t-ORDERED array fold of exact
    * fixed-order IEEE ops (sorted collect per key; |·| and the sMAPE
    * division are per-element, then one division per statistic —
    * bit-identical to DuckDB's list_reduce replay; init 0.0 + first
    * term ≡ first term exactly since terms are ≥ +0.0). No rounding
    * anywhere. Per-key series bounded by the [[holtLinearByKey]]
    * contract (daily/hourly rollups; audit with [[keySkewReport]]).
    * NULL keys are real groups (null-safe joins); NULL t/values/
    * predictions drop; `t` unique per key by contract.
    *
    * Scale shape: two per-key aggregates + one lag equi-join + one
    * holdout equi-join, all partial-aggregated; nothing all-pairs.
    * Output: (keys…, n_train, n_holdout, mae, smape, sn_mae, mase). */
  def forecastEvalReport(actuals: DataFrame, forecasts: DataFrame,
                         keys: Seq[String], t: String, value: String,
                         pred: String, period: Int): DataFrame = {
    require(keys.nonEmpty, "forecastEvalReport needs at least one key column")
    require(period >= 1 && period <= 366, s"period $period outside [1, 366]")
    val kc = keys.map(k => s"__k_$k")
    def prep(df: DataFrame, vcol: String, out: String) = df.select(
        keys.map(k => col(k).cast("string").as(s"__k_$k")) ++
          Seq(col(t).cast("long").as("__t"),
            col(vcol).cast("double").as(out)): _*)
      .where(col("__t").isNotNull && col(out).isNotNull)
    val a = Dedup.materializeLazily(prep(actuals, value, "__y"))
    val f = prep(forecasts, pred, "__p")
    // alias-based references: every join below touches the same key
    // columns on both sides (two are SELF-joins), so df-apply column
    // refs would be ambiguous
    def kj(la: String, ra: String, extra: Column): Column =
      kc.map(k => col(s"$la.$k") <=> col(s"$ra.$k")).reduce(_ && _) && extra
    // holdout: forecasts joined to their actuals, folded in t order
    val j = f.as("f").join(a.as("aa"),
        kj("f", "aa", col("f.__t") === col("aa.__t")))
      .select(kc.map(k => col(s"f.$k")) ++
        Seq(col("f.__t").as("__t"), col("f.__p").as("__p"),
          col("aa.__y").as("__y")): _*)
    val hold = j.groupBy(kc.map(col): _*)
      .agg(min(col("__t")).as("__h0"),
        sort_array(collect_list(struct(col("__t"), col("__p"), col("__y"))))
          .as("__arr"))
    val aeSum = aggregate(col("__arr"), lit(0.0),
      (acc, e) => acc + abs(e.getField("__p") - e.getField("__y")))
    val smSum = aggregate(col("__arr"), lit(0.0),
      (acc, e) => acc +
        when(abs(e.getField("__p")) + abs(e.getField("__y")) === 0.0,
          lit(0.0))
          .otherwise(lit(2.0) * abs(e.getField("__p") - e.getField("__y")) /
            (abs(e.getField("__p")) + abs(e.getField("__y")))))
    val hh = hold.select(kc.map(col) ++ Seq(col("__h0"),
      size(col("__arr")).cast("long").as("n_holdout"),
      (aeSum / size(col("__arr")).cast("double")).as("mae"),
      (smSum / size(col("__arr")).cast("double")).as("smape")): _*)
    // train = actuals strictly before the key's first forecast time;
    // seasonal-naive one-step errors at EXACT lag `period`
    val tr = a.as("t1").join(hh.as("h1"),
        kj("t1", "h1", col("t1.__t") < col("h1.__h0")))
      .select(kc.map(k => col(s"t1.$k")) ++
        Seq(col("t1.__t").as("__t"), col("t1.__y").as("__y")): _*)
    val trM = Dedup.materializeLazily(tr)
    val lagged = trM.as("c").join(
        trM.select(kc.map(col) ++ Seq((col("__t") + period.toLong).as("__t"),
          col("__y").as("__yl")): _*).as("p"),
        kj("c", "p", col("c.__t") === col("p.__t")))
      .select(kc.map(k => col(s"c.$k")) ++
        Seq(col("c.__t").as("__t"),
          abs(col("c.__y") - col("p.__yl")).as("__e")): _*)
    val sn = lagged.groupBy(kc.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__e"))))
        .as("__earr"))
      .select(kc.map(col) ++ Seq(
        size(col("__earr")).cast("long").as("__c"),
        (aggregate(col("__earr"), lit(0.0),
          (acc, e) => acc + e.getField("__e")) /
          size(col("__earr")).cast("double")).as("sn_mae")): _*)
    val nTrain = trM.groupBy(kc.map(col): _*)
      .agg(count(lit(1)).as("n_train"))
    val joined = hh.as("h")
      .join(nTrain.as("nt"), kc.map(k => col(s"h.$k") <=> col(s"nt.$k"))
        .reduce(_ && _), "left")
      .join(sn.as("s"), kc.map(k => col(s"h.$k") <=> col(s"s.$k"))
        .reduce(_ && _), "left")
    joined.select(
      keys.map(k => col(s"h.__k_$k").as(k)) ++
        Seq(coalesce(col("nt.n_train"), lit(0L)).as("n_train"),
          col("h.n_holdout"), col("h.mae"), col("h.smape"),
          col("s.sn_mae"),
          when(col("s.sn_mae").isNull || col("s.sn_mae") === 0.0,
            lit(null).cast("double"))
            .otherwise(col("h.mae") / col("s.sn_mae")).as("mase")): _*)
  }

  /** Mann-Kendall trend test statistic per key — the nonparametric
    * "is this series drifting?" answer next to [[cusumShifts]] (which
    * finds WHERE a shift happened; this asks WHETHER a monotone trend
    * exists, robust to outliers and any monotone transform):
    * S = Σ_{i<j} sign(x_j − x_i) over time-ordered pairs, and
    * Kendall's tau-a = S / C(n,2). Signs are pure COMPARISONS (no
    * subtraction, no float arithmetic), so S is an exact integer
    * under any value type and tau is ONE final IEEE division of exact
    * longs — hash-exact cross-engine. Ties contribute 0 (tau-a by
    * declared design; tau-b's tie correction needs a sqrt — add as a
    * variant if ever needed, don't widen this contract).
    *
    * Scale: pairs are inherent to the statistic — C(n,2) per key via
    * one key-equi self-join (never a cross join); per-key series
    * length is the bound (the [[exactQuantilesBy]] contract: daily/
    * hourly rollups, audit with [[keySkewReport]]). Keys with n < 2
    * emit s_stat 0, tau 0.0. NULL key/t/x rows drop. `t` unique per
    * key by contract. Output: (keys…, n, s_stat, tau). */
  def mannKendallTrend(df: DataFrame, t: Column, value: Column,
                       keys: Seq[Column] = Nil): DataFrame = {
    val keyNames = keys.indices.map(i => s"__k$i")
    val v = Dedup.materializeLazily(df.select(
        keys.zipWithIndex.map { case (c, i) => c.cast("string").as(s"__k$i") } ++
          Seq(t.cast("long").as("__t"), value.cast("double").as("__x")): _*)
      .where(keys.indices.map(i => col(s"__k$i").isNotNull)
        .foldLeft(col("__t").isNotNull && col("__x").isNotNull)(_ && _)))
    val kcols = keyNames.map(col)
    val n = v.groupBy(kcols: _*).agg(count(lit(1)).as("n"))
    val b = v.select(keyNames.map(c => col(c).as(s"__b$c")) ++
      Seq(col("__t").as("__tb"), col("__x").as("__xb")): _*)
    val pairs = v.join(b,
      keyNames.map(c => col(c) === col(s"__b$c"))
        .foldLeft(col("__t") < col("__tb"))(_ && _))
    val s = pairs.groupBy(kcols: _*)
      .agg(sum(when(col("__xb") > col("__x"), 1L)
        .when(col("__xb") < col("__x"), -1L)
        .otherwise(0L)).as("s_stat"))
    n.join(s, keyNames, "left")
      .select(keys.indices.map(i => col(s"__k$i").as(s"key$i")) ++ Seq(
        col("n"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        when(col("n") < 2L, lit(0.0))
          .otherwise(coalesce(col("s_stat"), lit(0L)).cast("double") /
            (col("n") * (col("n") - 1L) / lit(2L)).cast("double"))
          .as("tau")): _*)
  }
}
