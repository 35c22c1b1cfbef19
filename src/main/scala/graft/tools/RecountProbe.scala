package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: probe for VERDICT-r7 item 9 — would recounting
  * hash-repeated blocks on a cheap (second hash, length) key before
  * touching block text speed the strip family's recount stage?
  *
  * Forms measured (recount stage only, sf0.1 documents, the
  * q_strip_repeats carve: 10-token blocks, minRepeats 2):
  *   A (current): semi-join units to repeated hashes, then exact
  *     groupBy(h, block_text) count — text shuffles for every
  *     hash-repeated row.
  *   B (candidate): same semi-join, then groupBy(h, xxhash64(blk, 7),
  *     len(blk)) count (20-byte rows), semi-join the doubly-repeated
  *     keys back, THEN the exact text recount on those survivors —
  *     exactness preserved, text shuffle bounded by the
  *     doubly-confirmed population.
  *
  * Expectation to falsify: rows whose 64-bit hash repeats are almost
  * all TRUE repeats (collisions ~2^-64), so B's extra stage narrows
  * nothing and just adds a shuffle — B should only win in a
  * collision-flood regime that real corpora never reach.
  */
object RecountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val b = 10
    val toks = split(col("text"), " ")
    val nBlocks = call_function("div", size(toks) + lit(b - 1), lit(b))
    val carved = transform(sequence(lit(0L), greatest(nBlocks, lit(1L)) - 1),
      j => array_join(slice(toks, (j * b + 1).cast("int"), lit(b)), " "))
    val units = docs
      .select(col("doc_id").as("__id"), posexplode(carved).as(Seq("__pos", "__blk")))
      .withColumn("__h", xxhash64(col("__blk")))
    def repHash(u: DataFrame): DataFrame =
      u.groupBy("__h").agg(count(lit(1)).as("__c"))
        .where(col("__c") >= 2).select("__h")
    def formA(u: DataFrame): DataFrame =
      u.join(repHash(u), Seq("__h"), "left_semi")
        .groupBy("__h", "__blk").agg(count(lit(1)).as("__c"))
        .where(col("__c") >= 2).select("__h", "__blk")
    def formB(u: DataFrame): DataFrame = {
      val suspects = u.join(repHash(u), Seq("__h"), "left_semi")
      val narrow = suspects
        .groupBy(col("__h"), xxhash64(col("__blk"), lit(7)).as("__h2"),
          length(col("__blk")).as("__len"))
        .agg(count(lit(1)).as("__c"))
        .where(col("__c") >= 2).select("__h", "__h2", "__len")
      suspects
        .join(narrow,
          suspects("__h") === narrow("__h") &&
            xxhash64(suspects("__blk"), lit(7)) === narrow("__h2") &&
            length(suspects("__blk")) === narrow("__len"),
          "left_semi")
        .groupBy("__h", "__blk").agg(count(lit(1)).as("__c"))
        .where(col("__c") >= 2).select("__h", "__blk")
    }
    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"  $label: $s%.3f s"); s
    }
    // equivalence first (one run, also warms everything)
    val a = formA(units); val bOut = formB(units)
    val diff = a.exceptAll(bOut).count() + bOut.exceptAll(a).count()
    println(s"equivalence: symmetric diff = $diff (must be 0); " +
      s"repeated blocks = ${a.count()}")
    // ABBA timing
    val runs = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    for (round <- 1 to 4) {
      val order = if (round % 2 == 1) Seq("A", "B") else Seq("B", "A")
      for (form <- order) {
        val t = time(s"round $round form $form")(
          (if (form == "A") formA(units) else formB(units))
            .write.format("noop").mode("overwrite").save())
        runs(form) ::= t
      }
    }
    println(f"A (exact-text recount)    min=${runs("A").min}%.3f s")
    println(f"B (second-key prefilter)  min=${runs("B").min}%.3f s")
    spark.stop()
  }
}
