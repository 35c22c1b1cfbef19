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

  /** Build a SparkSession from a Config (reference core.clj:1094-1108). */
  def build(cfg: Config = Config()): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(cfg.appName)
      .master(cfg.master)
      .config("spark.sql.shuffle.partitions", cfg.shufflePartitions.toString)
      .config("spark.sql.session.timeZone", cfg.timeZone)
      .config("spark.sql.adaptive.enabled", cfg.adaptive.toString)
      .config("spark.ui.enabled", "false")
      // ns-precision parquet timestamps (testdata) read as long nanos;
      // GraftIO.readTable converts to a proper TimestampType column.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's custom expressions as SQL functions (first-session only)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    cfg.extraConf.foreach { case (k, v) => b.config(k, v) }
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
