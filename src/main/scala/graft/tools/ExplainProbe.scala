package graft.tools

/** Dev tool: dump formatted physical plans for selected queries so the
  * optimizer behavior (join-type rewrites, pushdown, codegen spans,
  * broadcast) can be inspected. The session comes from
  * [[graft.GraftSession.build]], so the plans include graft's injected
  * rules and SQL functions, as a real run would. Usage: runMain
  * graft.tools.ExplainProbe <sfDir> <queryName>...
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q_join", "q_join_left", "q_side_input", "q1_agg")
    val spark = graft.GraftSession.build(graft.GraftSession.Config(
      master = "local[4]", shufflePartitions = 4))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
