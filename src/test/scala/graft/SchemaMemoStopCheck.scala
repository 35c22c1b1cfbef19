package graft

import graft.sources.GraftIO

/** Child-JVM half of IOSpec's stopped-session spec (the shared test
  * session cannot be stopped mid-suite): reads a table in one session,
  * stops it, reads again in a fresh session and prints what the schema
  * memo still holds. Args: a scratch directory. */
object SchemaMemoStopCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def session() = GraftSession.build(GraftSession.Config(master = "local[1]",
      shufflePartitions = 1))
    val a = session()
    a.range(3).write.parquet(s"$dir/t.parquet")
    GraftIO.readTable(a, dir, "t")
    val held = GraftIO.rememberedSchemaPaths(a).size
    a.stop()
    val b = session()
    GraftIO.readTable(b, dir, "t")
    println(s"memo held=$held stopped=${GraftIO.rememberedSchemaPaths(a).size} " +
      s"live=${GraftIO.rememberedSchemaPaths(b).size} sessions=${GraftIO.rememberedSchemaSessions}")
    b.stop()
  }
}
