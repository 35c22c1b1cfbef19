package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r16 probe for the q_percentile candidate (VERDICT item 5): replace
  * the builtin exact `percentile` aggregate (per-group value→count
  * OpenHashMap build + merge + finish-time sort) with one keyed window
  * (row_number + count) and the SAME interpolation arithmetic Spark's
  * Percentile.getPercentile runs:
  *
  *   position = p · (n − 1);  lower = ⌊position⌋;  higher = ⌈position⌉
  *   value    = lower == higher ? key[lower]
  *            : (higher − position)·key[lower] + (position − lower)·key[higher]
  *
  * The probe (a) asserts BIT equality (doubleToRawLongBits) of the two
  * forms on lineitem at the given SF dir AND on adversarial random
  * data (odd/even n, duplicate-heavy, tiny groups), and (b) times both
  * forms order-alternating. Ship only if bit-equal everywhere and the
  * win is outside the noise band. */
object PercentileProbe {

  /** The shipped form — graft.functions.Corpus.interpolatedPercentilesBy. */
  def windowPercentiles(df: DataFrame, key: String, value: String,
                        probs: Seq[Double]): DataFrame =
    graft.functions.Corpus.interpolatedPercentilesBy(df, key, value, probs)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def check(df: DataFrame, key: String, value: String, label: String): Unit = {
      val b = df.groupBy(col(key)).agg(
          expr(s"percentile($value, 0.5)").as("p50"),
          expr(s"percentile($value, 0.9)").as("p90"))
        .collect().map(r => r.get(0).toString ->
          (bits(r.getDouble(1)), bits(r.getDouble(2)))).toMap
      val w = windowPercentiles(df, key, value, Seq(0.5, 0.9))
        .collect().map(r => r.get(0).toString ->
          (bits(r.getDouble(1)), bits(r.getDouble(2)))).toMap
      assert(b.keySet == w.keySet, s"$label: key sets differ")
      b.foreach { case (k, bv) =>
        assert(bv == w(k), s"$label/$k: builtin=$bv window=${w(k)}")
      }
      println(s"BIT-EQUAL [$label] over ${b.size} groups")
    }

    // adversarial random data: odd/even n, ties, tiny groups
    val rnd = new scala.util.Random(47)
    val randRows = (1 to 20000).map { i =>
      val g = s"g${i % 7}"
      val v = if (rnd.nextBoolean()) rnd.nextInt(50).toDouble
              else rnd.nextDouble() * 1e5
      (g, v)
    } ++ Seq(("solo", 42.0), ("duo", 1.0), ("duo", 2.0))
    check(randRows.toDF("k", "v"), "k", "v", "random")

    val li = graft.sources.GraftIO.readTable(spark, dir, "lineitem")
    check(li, "l_returnflag", "l_extendedprice", s"lineitem $dir")

    // order-alternating timing, 3 pairs
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def builtinRun() = li.groupBy($"l_returnflag").agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .orderBy("l_returnflag")
      .write.format("noop").mode("overwrite").save()
    def windowRun() = {
      val p = windowPercentiles(li, "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.9))
      p.select(col("l_returnflag"),
          round(col("p0"), 4).as("p50"), round(col("p1"), 4).as("p90"))
        .orderBy("l_returnflag")
        .write.format("noop").mode("overwrite").save()
    }
    for (i <- 1 to 3) {
      if (i % 2 == 1) {
        println(f"pair$i builtin: ${time(builtinRun())}%.2f s, window: ${time(windowRun())}%.2f s")
      } else {
        val tw = time(windowRun()); val tb = time(builtinRun())
        println(f"pair$i builtin: $tb%.2f s, window: $tw%.2f s")
      }
    }
    spark.stop()
  }
}
