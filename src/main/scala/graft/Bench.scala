package graft
import org.apache.spark.sql.SparkSession

/** The ONE definition of the bench load-context probes — Bench stamps
  * them into its JSON lines and tools/CalibProbe re-measures the
  * clean-box reference; a drifting copy would silently invalidate the
  * README "Bench noise" decision rule (r14 self-review: the prose
  * describing the query had already drifted while the two code copies
  * still agreed). */
object BenchCalibration {
  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Fixed CPU-bound work spread over every core: 6e9 xxhash64 rows
    * from range() (~2 s warm on the clean box — long enough that
    * scheduler noise doesn't dominate) — no files, no shuffle beyond
    * the final 1-row aggregate, identical every round by
    * construction. bit_xor, not sum: an ANSI long sum overflows. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 6000000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS h")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Benchmark main: runs the headline queries (SparkEntry.benchQueries)
  * against SPARK_GRAFT_SF_DIR with a noop sink (full materialization,
  * no write cost) and prints one JSON line for the driver.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // ---- load context (r14, r13 verdict item 1) ----------------------
    // Two consecutive driver benches were load-skewed (r13 medians
    // 1.7x mins, five phantom regressions) and the artifact couldn't
    // say so. Stamp (a) /proc/loadavg at start+end and (b) the
    // wall-time of one FIXED data-independent calibration query at
    // start+end, so a reader can separate real drift from a busy box.
    // README "Bench noise" documents the decision rule: quote
    // round-over-round deltas only when calib_start/calib_end are
    // within ~1.3x of the clean-box reference recorded there.
    def loadAvg1m(): Double = BenchCalibration.loadAvg1m()
    def calibrate(): Double = BenchCalibration.calibrate(spark)
    // benchOverrides first: r10 converted three queries to supplied-
    // artifact oracle tiers; the bench keeps timing the trained
    // production tiers under the same names for series comparability
    def benchQuery(name: String) =
      SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))
    // untimed warmup: JVM/codegen/file-listing costs land here, not in q1
    try benchQuery(SparkEntry.benchQueries.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val failed = scala.collection.mutable.ListBuffer[String]()
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // calibration runs AFTER the warmup (JVM/codegen startup must not
    // pollute it) and before any timed tier; repeated at the very end.
    // One discarded run first: the calibration plan's own codegen
    // compile (~3.5 s, one-time) must not make calib_start read 2x
    // calib_end on every healthy run
    calibrate()
    val loadStart = loadAvg1m()
    val calibStart = calibrate()
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      // lookup inside the try: a stale name in a bench tier must land
      // in failed[], not abort the run before any JSON is emitted
      try benchQuery(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] $name: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Back-to-back tier over the headline queries, run FIRST —
    // schedule-matched to r6-and-earlier drivers, which ran each query
    // 3x consecutively at the START of the JVM. Position matters: the
    // b2b min comes from one contiguous block, so running it last
    // would hand it whatever late-session drift/load exists (the
    // interleaved min below is position-robust by construction — it
    // spreads each query's iterations across the whole session). The
    // r8 probe (bench/abprobe_r8.txt) measured
    // interleaved mins 1.47x b2b mins in one ABBA-counterbalanced JVM
    // — per-query warm shuffle/JIT/page-cache state — which fully
    // explains the r6->r7 "+15%" phantom regression. Quote
    // r6-and-earlier deltas on mins_b2b, r7+ deltas on mins.
    val runsB2b: Map[String, Seq[Double]] =
      SparkEntry.benchQueries.map { n =>
        val r = n -> (1 to iters).map(_ => runOnce(n))
        graft.functions.Dedup.releaseMaterialized(spark)
        r
      }.toMap
    val loadAfterB2b = loadAvg1m()
    // calib_tiers (r15, completing r14's load_tiers): one ~1-2 s
    // calibration AFTER each tier. The start/end bracket pair provably
    // missed a mid-run load bump (r14 final-state run: b2b flat,
    // interleaved +31%, BOTH bracket calibrations clean), and
    // 1-minute loadavg is a lagging EMA — a direct wall-time probe at
    // each tier boundary localizes which tier a bump hit at
    // negligible cost. README "Bench noise" documents the rule.
    val calibAfterB2b = calibrate()
    // Iterations are INTERLEAVED round-robin across BOTH tiers
    // (q1..qN, q1..qN, q1..qN), not 3 back-to-back runs per query:
    // back-to-back runs share whatever transient machine load hits
    // that one 10-second window, which manufactured 1.5-2.6x phantom
    // regressions in the r6 driver run (q_count_distinct's runs were
    // monotone [1.08, 1.90, 2.67] — a load ramp, not the query).
    // Spreading a query's iterations across the whole bench makes its
    // min (and to a lesser degree its median) load-insensitive.
    val allNames = SparkEntry.benchQueries ++ SparkEntry.benchQueriesV2
    val runsByName: Map[String, Seq[Double]] = {
      val rounds = (1 to iters).map { _ =>
        val r = allNames.map(n => n -> runOnce(n))
        // free the dedup family's checkpoint blocks between rounds:
        // every LSH/components query pins executor memory until the
        // session dies, and 3 rounds x the full tier would otherwise
        // accumulate — keeping the later rounds' memory profile (and
        // GC) comparable to round 1 (outside any timed window)
        graft.functions.Dedup.releaseMaterialized(spark)
        r
      }
      allNames.map(n => n -> rounds.map(_.toMap.apply(n))).toMap
    }
    val loadAfterInterleaved = loadAvg1m()
    val calibAfterInterleaved = calibrate()
    def runsOf(names: Seq[String]): Seq[(String, Seq[Double])] =
      names.map(n => n -> runsByName(n))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // `queries` stays the MEDIAN (series continuity with r6); `mins`
    // is the load-insensitive statistic round-over-round deltas should
    // be quoted on — a min over interleaved runs needs ALL iterations
    // hit by load to be polluted, not just one unlucky window.
    def json(rs: Seq[(String, Seq[Double])], stat: Seq[Double] => Double): String =
      rs.map { case (k, v) => "\"" + k + "\":" + stat(v) }.mkString("{", ",", "}")
    def jsonRuns(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val results = runsOf(SparkEntry.benchQueries)
    // v2 tier: never-timed families, separate total — the headline
    // `value` stays the frozen 22-query series for comparability
    val resultsV2 = runsOf(SparkEntry.benchQueriesV2)
    // v3 tier (r13): ONE pass over every census query not in a timed
    // tier — coverage, not a series; a regression anywhere in the 226
    // is now visible round-over-round. Runs LAST so it can't perturb
    // the comparable tiers; released per-query so dedup-family
    // checkpoint blocks never accumulate across ~100 queries.
    val namesV3 = SparkEntry.benchQueriesV3
    val resultsV3: Seq[(String, Double)] = namesV3.map { n =>
      val d = runOnce(n)
      graft.functions.Dedup.releaseMaterialized(spark)
      n -> d
    }
    val totalV3 = resultsV3.map(_._2).sum
    val total = results.map(r => median(r._2)).sum
    val totalV2 = resultsV2.map(r => median(r._2)).sum
    val totalMin = results.map(_._2.min).sum
    val totalMinV2 = resultsV2.map(_._2.min).sum
    val resultsB2b = SparkEntry.benchQueries.map(n => n -> runsB2b(n))
    val totalMinB2b = resultsB2b.map(_._2.min).sum
    val loadEnd = loadAvg1m()
    val calibEnd = calibrate()
    // load_tiers: loadavg AFTER [b2b, interleaved, v3] — the start/end
    // calibration pair only BRACKETS the run; the first r14 artifact
    // pair read clean while a mid-run load bump inflated ONLY the
    // interleaved tier (+31% total_min, b2b flat) — these three stamps
    // localize which tier a bump hit
    def r3c(x: Double): Double = math.rint(x * 1000) / 1000
    val loadJson = s""""load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""load_tiers":[$loadAfterB2b,$loadAfterInterleaved,$loadEnd],""" +
      s""""calib_start":${r3c(calibStart)},""" +
      s""""calib_tiers":[${r3c(calibAfterB2b)},${r3c(calibAfterInterleaved)},${r3c(calibEnd)}],""" +
      s""""calib_end":${r3c(calibEnd)}"""
    // a failed query's (partial) duration stays in its per-query slot
    // for series continuity, but the failure is named — a totals diff
    // must never read a crash as a speedup
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val queriesV3Json =
      resultsV3.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results, median)},""" +
      s""""total_v2":$totalV2,"queries_v2":${json(resultsV2, median)},""" +
      s""""total_min":$totalMin,"mins":${json(results, _.min)},""" +
      s""""total_min_b2b":$totalMinB2b,"mins_b2b":${json(resultsB2b, _.min)},""" +
      s""""total_min_v2":$totalMinV2,"mins_v2":${json(resultsV2, _.min)},""" +
      s""""total_v3":$totalV3,"n_v3":${namesV3.size},"queries_v3":$queriesV3Json,""" +
      s""""iters":$iters,"runs":${jsonRuns(results)},"runs_v2":${jsonRuns(resultsV2)},""" +
      s"""$loadJson,"failed":$failedJson,"sf":"$sfDir"}"""
    // stdout (unprefixed — build.sbt sets run/outputStrategy) AND a file
    // copy, so the driver can parse either way.
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    // COMPACT summary printed LAST (r13, r12 verdict item 1): the
    // driver captures only a ~2000-char stdout tail, so the full line
    // above (≈10 KB with 226 benched queries) never parses —
    // BENCH_r11/r12.json both carry "parsed": null. This final line is
    // the same contract shape ({"metric","value","unit","queries","sf"})
    // with values rounded to 1 ms and per-query detail only for the
    // frozen 22-query headline tier (≤ ~1.2 KB total); the full detail
    // lives in the line above and in bench_out.json.
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val summaryQueries =
      results.map { case (k, v) => "\"" + k + "\":" + r3(median(v)) }.mkString("{", ",", "}")
    // failed[] is [] on a healthy run; bound it so a mass failure can't
    // push the summary line itself past the tail capture
    val failedSummary =
      if (failed.size <= 8) failedJson
      else (failed.take(8).map("\"" + _ + "\"") :+ s""""(+${failed.size - 8} more)"""")
        .mkString("[", ",", "]")
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$summaryQueries,""" +
      s""""total_min":${r3(totalMin)},"total_min_b2b":${r3(totalMinB2b)},""" +
      s""""total_v2":${r3(totalV2)},"total_min_v2":${r3(totalMinV2)},"n_v2":${resultsV2.size},""" +
      s""""total_v3":${r3(totalV3)},"n_v3":${namesV3.size},""" +
      s"""$loadJson,""" +
      s""""iters":$iters,"failed":$failedSummary,"sf":"$sfDir","detail":"bench_out.json"}"""
    println(summary)
    spark.stop()
  }
}
