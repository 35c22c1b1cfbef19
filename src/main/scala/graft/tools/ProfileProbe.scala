package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: where do q_profile's exact-tier seconds go, and which
  * exact-distinct shape is fastest at sf0.1?
  *   A. shipped exact tier — was ONE fused aggregate with 11
  *      count_distincts (Catalyst Expand: rows × #columns; 22-27 s,
  *      bench/profileprobe_r12.txt); since the r12 rework it IS the
  *      split form (base pass + per-column jobs), so A ≈ E + C now —
  *      rerunning this probe validates the shipped tier, not Expand
  *   B. approx tier (HLL) — the 100 TB default, as a floor
  *   C. per-column count_distinct jobs (11 narrow scans, parquet
  *      column pruning; driver collects 11 scalars)
  *   D. one unpivoted (column, value-as-string) distinct + count —
  *      single job, map-side partial distinct before one shuffle
  */
object ProfileProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("l_shipdate", expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)"))
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    time("warmup count")(li.count())
    val cols = li.columns.toSeq
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      time("A. shipped exact tier")(
        graft.functions.Corpus.columnProfile(li, exact = true)
          .write.format("noop").mode("overwrite").save())
      time("B. approx fused (HLL)")(
        graft.functions.Corpus.columnProfile(li, exact = false)
          .write.format("noop").mode("overwrite").save())
      time("C. per-column count_distinct x" + cols.size) {
        val ds = cols.map { c =>
          li.select(col(c)).agg(count_distinct(col(c))).head().getLong(0)
        }
        println(s"  distincts=${cols.zip(ds).mkString(",")}")
      }
      time("E. fused base pass, no distincts") {
        val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
          val isNum = li.schema(c).dataType.typeName != "string"
          Seq(count(lit(1)).as(s"__n_$i"),
            sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"__nn_$i")) ++
          (if (isNum) Seq(min(col(c).cast("double")).as(s"__mn_$i"),
                          max(col(c).cast("double")).as(s"__mx_$i"))
           else Seq(min(col(c)).as(s"__ms_$i"), max(col(c)).as(s"__xs_$i"),
                    sum(length(col(c))).as(s"__tl_$i")))
        }
        li.agg(aggs.head, aggs.tail: _*).head()
      }
      time("F. per-column full metrics x" + cols.size) {
        cols.foreach { c =>
          val isNum = li.schema(c).dataType.typeName != "string"
          val base = Seq(count(lit(1)), sum(when(col(c).isNotNull, 1L)
            .otherwise(0L)), count_distinct(col(c)))
          val typed = if (isNum) Seq(min(col(c).cast("double")),
            max(col(c).cast("double")))
          else Seq(min(col(c)), max(col(c)), sum(length(col(c))))
          val all = base ++ typed
          li.select(col(c)).agg(all.head, all.tail: _*).head()
        }
      }
      time("D. unpivoted distinct+count (one job)") {
        val pairs = li.select(explode(array(cols.map(c =>
          struct(lit(c).as("c"), col(c).cast("string").as("v"))).toIndexedSeq: _*)).as("p"))
          .select(col("p.c"), col("p.v")).where(col("v").isNotNull)
        val r = pairs.distinct().groupBy(col("c")).agg(count(lit(1)))
          .collect()
        println(s"  rows=${r.length}")
      }
      // r13 addendum: DERIVED (joined) input — the exact tier now
      // materializes non-prunable inputs once (scoped release), so the
      // per-column jobs rescan cached blocks instead of recomputing
      // the join per column (the r12 verdict item 5 footgun)
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val derived = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("net_price"),
          col("o_orderstatus"))
      val dcols = derived.columns.toSeq
      time("G. shipped exact tier on DERIVED input (join upstream)")(
        graft.functions.Corpus.columnProfile(derived, exact = true)
          .write.format("noop").mode("overwrite").save())
      time("H. pre-r13 shape on derived: per-column join recompute x" +
          dcols.size) {
        dcols.foreach { c =>
          derived.select(col(c)).agg(count_distinct(col(c))).head()
        }
      }
    }
    spark.stop()
  }
}
