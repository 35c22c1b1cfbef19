package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: recall of the fixed-window repeated-block strip vs the
  * sliding-window ground truth at a given SF.
  *
  * `stripRepeatedBlocks` carves blocks at absolute token offsets
  * 0, B, 2B, … — a repeated B-token run only deletes when it covers a
  * whole aligned block at the SAME phase in both occurrences. Ground
  * truth here is every SLIDING B-token window whose text repeats >= 2
  * times corpus-wide: the tokens covered by such windows are what an
  * exact substring dedup at B-token granularity could delete. The
  * probe reports token-position sets (hash identity, no collision
  * re-check — fine for measurement):
  *   - covered:   tokens under at least one repeated sliding window
  *   - aligned:   tokens deleted by the phase-0 aligned strip
  *   - twophase:  tokens deleted by phase-0 UNION phase-B/2 blocks
  *                (the published half-stride boundary fix, modeled as
  *                position-aware union deletion)
  * so the boundary-miss rate (1 - aligned/covered) and the stride
  * pass's recovery are measured before any code change ships. */
object StrideProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val b = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val toks = split(col("text"), " ")
    val total = docs.select(sum(size(toks)).cast("long")).head().getLong(0)

    // ground truth: one window per start offset (1-based), hashed
    val wins = docs.select(col("doc_id"), size(toks).as("n"), posexplode(transform(
      sequence(lit(1), greatest(size(toks) - (b - 1), lit(1))),
      i => xxhash64(concat_ws(" ", slice(toks, i, lit(b)))))).as(Seq("off", "wh")))
      .select(col("doc_id"), col("n"), (col("off") + 1).as("start"), col("wh"))
    def repeatedCoverage(w: DataFrame): Long = {
      val rep = w.groupBy("wh").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2).select("wh")
      w.join(rep, Seq("wh"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("start"), least(col("start") + (b - 1), col("n")))).as("ti"))
        .distinct().count()
    }
    val covered = repeatedCoverage(wins)

    // aligned blocks at a given phase: mirrors stripRepeatedBlocks
    // (ceil block count → trailing partial block included; the `phase`
    // head stub [1..phase] is never deletable)
    def phaseBlocks(phase: Int): DataFrame = {
      val nBlocks = call_function("div",
        greatest(size(toks) - phase, lit(0)) + lit(b - 1), lit(b))
      docs.select(col("doc_id"), size(toks).as("n"), posexplode(transform(
        sequence(lit(0L), nBlocks - 1),
        j => xxhash64(array_join(
          slice(toks, (j * b + phase + 1).cast("int"), lit(b)), " "))))
        .as(Seq("bi", "wh")))
        .select(col("doc_id"), col("n"),
          (col("bi") * b + phase + 1).as("start"), col("wh"))
    }
    // union coverage across phases, repeats counted per phase (each
    // pass of a two-pass strip only sees its own phase's block stream)
    def unionCoverage(phases: Seq[Int]): Long =
      phases.map { p =>
        val w = phaseBlocks(p)
        val rep = w.groupBy("wh").agg(count(lit(1)).as("c"))
          .where(col("c") >= 2).select("wh")
        w.join(rep, Seq("wh"), "left_semi")
          .select(col("doc_id"),
            explode(sequence(col("start"), least(col("start") + (b - 1), col("n")))).as("ti"))
      }.reduce(_ union _).distinct().count()

    val aligned = unionCoverage(Seq(0))
    val twophase = unionCoverage(Seq(0, b / 2))

    println(s"sf=$sfDir blockTokens=$b tokens_total=$total")
    println(s"covered_by_repeated_sliding_windows=$covered")
    println(f"aligned_phase0=$aligned (recall=${aligned.toDouble / covered}%.4f)")
    println(f"twophase_0_and_${b / 2}=$twophase (recall=${twophase.toDouble / covered}%.4f)")
    spark.stop()
  }
}
