package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    args.drop(1).foreach { name =>
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        // noop write, NOT count(): count lets Catalyst prune entire
        // subtrees (e.g. a left join to unique keys), which is not
        // what the bench times
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"$name run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
