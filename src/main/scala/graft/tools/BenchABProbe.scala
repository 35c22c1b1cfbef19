package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: controlled same-JVM A/B for the r7 driver-bench regression
  * (VERDICT r7 §perf — ~15% uniform slowdown on min-of-interleaved-runs
  * vs r6, including queries whose code did not change).
  *
  * Two hypotheses, measured independently:
  *
  * 1. METHODOLOGY: r6 ran each query 3x back-to-back (its min enjoys
  *    per-query warm shuffle files / JIT / page cache), r7 interleaves
  *    round-robin. Here both schedules run in ONE JVM in ABAB block
  *    order (b2b, int, b2b, int — so within-session drift like JIT
  *    warm-up or heap growth cancels across blocks), and we compare
  *    each query's min over all b2b runs vs all interleaved runs.
  *    If b2b mins are systematically lower, the r6->r7 "regression"
  *    is (at least partly) the measurement change, not the code.
  *
  * 2. EVENTS NORMALIZATION: readTable (GraftIO.scala:173-191) now
  *    derives ts_ns = unix_micros(ts)*1000 on every events read (the
  *    generator switched to native-us encoding in r7; through r6 the
  *    file held raw int64 nanos, so ts_ns was a zero-cost rename).
  *    A/B: the q_sessionize / q_asof_join shapes on the derived ts_ns
  *    vs rewritten on native unix_micros(ts) keys (gap/tolerance in
  *    us) — identical row counts, same shuffle shape, only the extra
  *    per-row multiply differs. If equal, normalization is exonerated.
  */
object BenchABProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.SparkEntry

    val names = SparkEntry.benchQueries
    def runOnce(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val part2Only = args.contains("part2")
    // ---- part 1: schedule A/B ----------------------------------------
    if (!part2Only) {
    println(s"== part 1: schedule A/B over ${names.size} headline queries, " +
      s"$iters iters/block, blocks b2b,int,int,b2b (ABBA) ==")
    names.foreach(runOnce) // warmup: JIT/codegen/file listing
    graft.functions.Dedup.releaseMaterialized(spark)
    val acc = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    def block(mode: String): Unit = {
      val t0 = System.nanoTime()
      mode match {
        case "b2b" =>
          for (n <- names; _ <- 1 to iters) acc((n, mode)) ::= runOnce(n)
        case "int" =>
          for (_ <- 1 to iters; n <- names) acc((n, mode)) ::= runOnce(n)
      }
      graft.functions.Dedup.releaseMaterialized(spark)
      println(f"  block $mode done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // ABBA counterbalancing: the first run showed monotone within-
    // session degradation across blocks (53.7 -> 64.9 -> 80.1 s), so an
    // ABAB order hands A the earlier average position; ABBA gives both
    // schedules the same mean position (2.5) and cancels linear drift
    Seq("b2b", "int", "int", "b2b").foreach(block)
    var sumB = 0.0; var sumI = 0.0
    println(f"${"query"}%-24s ${"min_b2b"}%8s ${"min_int"}%8s ratio")
    for (n <- names) {
      val mb = acc((n, "b2b")).min; val mi = acc((n, "int")).min
      sumB += mb; sumI += mi
      println(f"$n%-24s $mb%8.3f $mi%8.3f ${mi / mb}%5.2f")
    }
    println(f"TOTAL min_b2b=$sumB%.2f s  min_int=$sumI%.2f s  int/b2b=${sumI / sumB}%.3f")
    }

    // ---- part 2: events ts-normalization A/B -------------------------
    println("== part 2: derived ts_ns vs native-us keys ==")
    import graft.sources.GraftIO
    import graft.streaming.Windows
    import graft.operators.Temporal
    val evNorm = GraftIO.readTable(spark, sfDir, "events")
    val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
    def sessionizeOn(df: DataFrame, tsCol: String, gap: Long): DataFrame =
      Windows.sessionize(df.select(col("event_id"), col("user_id"), col(tsCol)),
        col("user_id"), col(tsCol), gap)
    // mirror q_asof_join exactly, only the ts column derivation differs
    def asofShape(ev: DataFrame): DataFrame = {
      val e = ev.select(col("event_id"), col("user_id"), col("__pts"), col("value"))
      val snaps = e.where(col("event_id") % 7 === 0)
        .select(col("user_id"), col("__pts"), col("event_id"), col("value"))
      Temporal.asOfJoin(e, snaps, key = "user_id", lts = "__pts", rts = "__pts")
        .select(col("event_id"), col("asof.event_id").as("snap_event_id"))
    }
    // paired arms, run in ABBA-alternating order so neither arm always
    // pays the cold position (the first sequential version handed the
    // normalized arm every cold slot)
    val arms: Seq[(String, () => DataFrame)] = Seq(
      "scan raw events (no projection)" -> (() => evRaw),
      "scan normalized events (readTable)" -> (() => evNorm),
      "sessionize native us (raw read)" -> (() =>
        sessionizeOn(evRaw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp"))),
          "ts_us", 30L * 60 * 1000000L)),
      "sessionize ts_ns (normalized)" -> (() =>
        sessionizeOn(evNorm, "ts_ns", 30L * 60 * 1000000000L)),
      "asof native us (raw read)" -> (() =>
        asofShape(evRaw.withColumn("__pts", unix_micros(col("ts").cast("timestamp"))))),
      "asof ts_ns (normalized)" -> (() =>
        asofShape(evNorm.withColumn("__pts", col("ts_ns")))))
    def runArm(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    arms.foreach { case (_, f) => runArm(f) } // warmup every arm once
    val armRuns = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (round <- 1 to 4) {
      val order = if (round % 2 == 1) arms else arms.reverse
      order.foreach { case (l, f) => armRuns(l) ::= runArm(f) }
    }
    arms.foreach { case (l, _) =>
      val rs = armRuns(l)
      println(f"  $l%-40s min=${rs.min}%6.3f s  runs=${rs.reverse.map(r => f"$r%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
