package graft

import org.apache.spark.sql.SparkSession

/** Session/pipeline construction — the analog of the reference's
  * `make-pipeline` (datasplash core.clj:1028-1108) and `defoptions`
  * (options.clj:23-44). Beam's PipelineOptions bytecode generation
  * dissolves into a plain case class + SparkSession builder.
  */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS` when set, else every
    * processor the JVM sees. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Typed pipeline options (reference `defoptions` options.clj:23-44). */
  case class Config(
      appName: String = "graft",
      master: String = s"local[$defaultCpus]",
      shufflePartitions: Int = defaultCpus,
      timeZone: String = "UTC",
      adaptive: Boolean = true,
      extraConf: Map[String, String] = Map.empty)

  /** Spark's threshold above which a file index lists its root paths
    * with a Spark job of one task per path instead of on the driver. */
  val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** `local`, `local[N]` or `local[*]`: every task runs on the
    * driver's own cores (`local-cluster[…]` starts executor JVMs). */
  private def isLocalMaster(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** The Spark conf [[build]] applies, in order; a later entry wins.
    * With a local master a listing job adds a Hadoop-conf broadcast and
    * per-task serialization to a stat the driver makes in well under a
    * millisecond, and buys no parallelism, so local sessions list on the
    * driver (64 paths on a 4-core box: 0.4–0.7 s as a job, 20–70 ms on
    * the driver; 2000 paths: 7–10 s against 0.2–0.3 s). Cluster
    * masters keep Spark's default: on an object store each stat is an
    * RPC and spreading them over executors pays off. `extraConf` comes
    * last, so a caller's value still wins. */
  def conf(cfg: Config): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cfg.shufflePartitions.toString,
      "spark.sql.session.timeZone" -> cfg.timeZone,
      "spark.sql.adaptive.enabled" -> cfg.adaptive.toString,
      "spark.ui.enabled" -> "false",
      // ns-precision parquet timestamps (testdata) read as long nanos;
      // GraftIO.readTable converts to a proper TimestampType column.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // graft's custom expressions as SQL functions (first-session only)
      "spark.sql.extensions" -> "graft.plans.GraftExtensions") ++
    (if (isLocalMaster(cfg.master)) Seq(ListingThresholdKey -> Int.MaxValue.toString)
     else Nil) ++
    cfg.extraConf

  /** Build a SparkSession from a Config (reference core.clj:1094-1108). */
  def build(cfg: Config = Config()): SparkSession = {
    val b = SparkSession.builder().appName(cfg.appName).master(cfg.master)
    conf(cfg).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CLI `--key=value` args -> Config overrides (reference
    * `args->cli-args` core.clj:1048-1069). Unknown keys land in extraConf
    * as raw spark conf, mirroring the reference's pass-through behavior.
    */
  def fromArgs(args: Array[String], base: Config = Config()): Config =
    args.foldLeft(base) { (cfg, arg) =>
      arg.stripPrefix("--").split("=", 2) match {
        case Array("appName", v)            => cfg.copy(appName = v)
        case Array("master", v)             => cfg.copy(master = v)
        case Array("shufflePartitions", v)  => cfg.copy(shufflePartitions = v.toInt)
        case Array("timeZone", v)           => cfg.copy(timeZone = v)
        case Array("adaptive", v)           => cfg.copy(adaptive = v.toBoolean)
        case Array(k, v)                    => cfg.copy(extraConf = cfg.extraConf + (k -> v))
        case _                              => cfg
      }
    }
}
