package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Sources & sinks — reference §2.2 (datasplash core.clj:1178-1518 file
  * IO; bq.clj / datastore.clj / es.clj / pubsub.clj / kafka.clj
  * connectors).
  *
  * The reference's EDN read/write (core.clj:1334-1394) is
  * Clojure-specific; its capability ("typed literal lines") maps to
  * JSON-lines here. Warehouse connectors (BigQuery bq.clj:25-353) map to
  * parquet/table sinks with SaveMode + partitioning; Kafka/PubSub map to
  * Structured Streaming sources (graft.streaming).
  */
object GraftIO {

  // ---------------- text ----------------

  /** `read-text-file` (core.clj:1284-1304): newline-delimited text,
    * glob patterns, compression auto-detected by extension (the
    * reference's `:auto`; explicit codecs are a write-side concern in
    * Spark).
    *
    * Reference read-side options (core.clj:1190-1217) and their fates:
    * `:delimiter` → [[readTextFileOpts]] `delimiter` (Spark `lineSep`);
    * `:empty-match-treatment` → `emptyMatchAllowed` (Beam's ALLOW /
    * DISALLOW; ALLOW_IF_WILDCARD dissolves — Spark globs match empty
    * silently, only fully-missing paths throw); `:many-files` (a
    * Beam file-listing hint) needs no per-read flag: Spark lists more
    * root paths than `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` (default 32) with a Spark job of one task per path,
    * which pays off on a cluster over an object store; a session built
    * by `GraftSession.build` with a local master lists every path on
    * the driver instead (see `GraftSession.conf`). */
  def readTextFile(spark: SparkSession, paths: String*): Dataset[String] =
    spark.read.textFile(paths: _*)

  /** [[readTextFile]] with the reference's read-side options. Beam's
    * ALLOW empty-match treatment reads whatever paths DO resolve and
    * only tolerates the ones that don't — so missing paths are
    * filtered per-path (a driver-side metadata check, like Beam's own
    * match step), never by discarding the whole read. */
  def readTextFileOpts(spark: SparkSession, paths: Seq[String],
                       delimiter: Option[String] = None,
                       emptyMatchAllowed: Boolean = false): Dataset[String] = {
    val r = delimiter.fold(spark.read)(d => spark.read.option("lineSep", d))
    val effective =
      if (!emptyMatchAllowed) paths
      else paths.filter { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // globs need a glob check; plain paths an existence check
        fs.exists(hp) || Option(fs.globStatus(hp)).exists(_.nonEmpty)
      }
    if (effective.isEmpty) spark.emptyDataset(org.apache.spark.sql.Encoders.STRING)
    else r.textFile(effective: _*)
  }

  /** `read-text-files` (core.clj:1306-1332): read a *collection of
    * paths*. The path list is small metadata (file names, not data), so
    * collecting it to the driver is the Spark-native move — the read
    * itself stays distributed. */
  def readTextFiles(paths: Dataset[String]): Dataset[String] =
    readTextFile(paths.sparkSession, paths.collect().toIndexedSeq: _*)

  /** `write-text-file` (core.clj:1255-1282): `:num-shards` →
    * repartition/coalesce; `:compression-type` → codec option;
    * `:file-format :json` → encode first (see writeJsonFile).
    * numShards = 0 lets Spark decide (reference semantics,
    * core.clj:1240-1241). */
  def writeTextFile(ds: Dataset[String], path: String,
                    numShards: Int = 0,
                    compression: Option[String] = None,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val shaped = if (numShards > 0) ds.coalesce(numShards) else ds
    val w = shaped.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).text(path)
  }

  /** [[writeTextFile]] with the reference's batch filename policy
    * (`:prefix/:suffix/:naming-fn`, core.clj:1219-1253; default policy
    * core.clj:2170-2176): shards land as
    * `prefix-00000-of-0000N.suffix` — or `namingFn(shard, count)` —
    * directly under `path`, via [[FileNaming.stagedRename]]'s
    * crash-safe post-commit rename. Returns the final paths in shard
    * order. Re-emitting to the same path replaces the previous
    * emission atomically even when the shard count changed (see
    * [[FileNaming]]); with a custom `namingFn` pass a `cleanupGlob`
    * covering its output shape to keep that guarantee. */
  def writeTextFileNamed(ds: Dataset[String], path: String,
                         prefix: String = "part", suffix: String = ".txt",
                         numShards: Int = 0,
                         compression: Option[String] = None,
                         namingFn: Option[(Int, Int) => String] = None,
                         cleanupGlob: Option[String] = None): Seq[String] =
    writeNamed(ds.sparkSession, path, prefix, suffix, namingFn, cleanupGlob)(
      staging => writeTextFile(ds, staging, numShards, compression))

  /** Shared batch filename-policy sequence: write to a hidden staging
    * dir, then [[FileNaming.stagedRename]] into place. The random tag
    * only disambiguates THIS attempt's hidden names; debris from
    * crashed attempts (whose tags are lost) is swept by stagedRename's
    * step 0, so stranded `.staging-*`/`.pending-*` copies never
    * accumulate. */
  private def writeNamed(spark: SparkSession, path: String,
                         prefix: String, suffix: String,
                         namingFn: Option[(Int, Int) => String],
                         cleanupGlob: Option[String])(
                         write: String => Unit): Seq[String] = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$path/.staging-$tag"
    write(staging)
    FileNaming.stagedRename(spark.sparkContext.hadoopConfiguration,
      staging, path,
      namingFn.getOrElse(FileNaming.defaultName(prefix, suffix) _),
      cleanupGlob.orElse(if (namingFn.isEmpty) Some(s"$prefix-*$suffix") else None),
      tag)
  }

  // ---------------- JSON lines ----------------

  /** `read-json-file` (core.clj:1396-1470): schema inference, blank-line
    * tolerant — both native to spark.read.json. An explicit schema is
    * the scale path (skips the inference pass over 100 TB). */
  def readJsonFile(spark: SparkSession, path: String,
                   schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Parse a JSON string column in place (reference's per-element charred
    * parse with `:key-fn`, core.clj:1420-1426) — columnar `from_json`
    * keeps it inside codegen. */
  def parseJsonCol(df: DataFrame, c: Column, schema: org.apache.spark.sql.types.DataType, as: String): DataFrame =
    df.withColumn(as, from_json(c, schema))

  /** `write-json-file` (core.clj:1472-1494). */
  def writeJsonFile(df: DataFrame, path: String,
                    numShards: Int = 0,
                    compression: Option[String] = None,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val shaped = if (numShards > 0) df.coalesce(numShards) else df
    val w = shaped.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** [[writeJsonFile]] with the batch filename policy — the JSON twin
    * of [[writeTextFileNamed]] (reference `:file-format :json` +
    * `:naming-fn`, core.clj:1219-1253). */
  def writeJsonFileNamed(df: DataFrame, path: String,
                         prefix: String = "part", suffix: String = ".json",
                         numShards: Int = 0,
                         compression: Option[String] = None,
                         namingFn: Option[(Int, Int) => String] = None,
                         cleanupGlob: Option[String] = None): Seq[String] =
    writeNamed(df.sparkSession, path, prefix, suffix, namingFn, cleanupGlob)(
      staging => writeJsonFile(df, staging, numShards, compression))

  // ---------------- CSV / ORC (builtin warehouse formats) --------------

  /** CSV read with the common knobs (header, delimiter, explicit or
    * inferred schema). Prefer an explicit schema at scale: inference
    * is an extra full pass over the files. */
  def readCsv(spark: SparkSession, path: String,
              header: Boolean = true, delimiter: String = ",",
              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("header", header)
      .option("delimiter", delimiter)
    schema.fold(r.option("inferSchema", true))(s => r.schema(s)).csv(path)
  }

  def writeCsv(df: DataFrame, path: String,
               header: Boolean = true, delimiter: String = ",",
               numShards: Int = 0,
               compression: Option[String] = None,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val shaped = if (numShards > 0) df.coalesce(numShards) else df
    val w = shaped.write.mode(mode).option("header", header)
      .option("delimiter", delimiter)
    compression.fold(w)(c => w.option("compression", c)).csv(path)
  }

  /** ORC read/write — Spark-builtin columnar format with the same
    * pushdown/pruning behavior as parquet (vectorized reader,
    * predicate pushdown, column pruning). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
               numShards: Int = 0,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val shaped = if (numShards > 0) df.coalesce(numShards) else df
    shaped.write.mode(mode).orc(path)
  }

  // ---------------- parquet / tables (warehouse analog) ----------------

  /** Parquet read that infers a path's schema once per session.
    * `spark.read.parquet` infers the schema with a footer-reading Spark
    * job on every call, even for one file, so a session that reads the
    * same tables again and again (every pass of a pipeline, every
    * query of a vector index) paid one job per read. Here the first
    * read of a path infers as Spark does; later reads pass the
    * remembered schema (`spark.read.schema(s).parquet`), which starts
    * no job and yields Spark's own column types.
    *
    * An entry is keyed by session (weakly; a stopped session's entries
    * are dropped), path and a snapshot of the session's SQL conf, so a
    * change to a conf the reader depends on (`nanosAsLong`,
    * `binaryAsString`, `mergeSchema`, …) infers again. It records the
    * leaf files (path, length, mtime) the schema was inferred from; a
    * hit compares them with the listing the given-schema read has
    * already made (no extra file-system call), and any difference — an
    * overwrite, an added or removed file — infers again and replaces
    * the entry. A file rewritten in place with the same length and
    * mtime is not noticed. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, spark.conf.getAll)
    val remembered = schemaMemo.synchronized(Option(sessionSchemas(spark).get(key)))
    val hit = remembered.flatMap { m =>
      val df = spark.read.schema(m.schema).parquet(path)
      if (Bridge.leafFiles(df).contains(m.files)) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      Bridge.leafFiles(df).foreach { files =>
        schemaMemo.synchronized(sessionSchemas(spark).put(key, InferredSchema(df.schema, files)))
      }
      df
    }
  }

  /** A schema Spark inferred, and the leaf files it was inferred from. */
  private final case class InferredSchema(schema: StructType, files: Set[(String, Long, Long)])

  private val schemaMemo = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[(String, Map[String, String]), InferredSchema]]()

  /** The session's entries, after dropping every stopped session's;
    * the caller holds `schemaMemo`'s lock. */
  private def sessionSchemas(spark: SparkSession) = {
    schemaMemo.keySet.removeIf(_.sparkContext.isStopped)
    schemaMemo.computeIfAbsent(spark, _ => new java.util.HashMap())
  }

  /** Paths whose schema the session has remembered, and the number of
    * sessions holding entries (for specs). */
  private[graft] def rememberedSchemaPaths(spark: SparkSession): Set[String] =
    schemaMemo.synchronized {
      import scala.jdk.CollectionConverters._
      Option(schemaMemo.get(spark)).fold(Set.empty[String])(_.keySet.asScala.map(_._1).toSet)
    }
  private[graft] def rememberedSchemaSessions: Int =
    schemaMemo.synchronized(schemaMemo.size)

  /** Read one of the driver's testdata tables from an sf dir,
    * normalizing the events timestamp to a stable two-column contract
    * regardless of how the generator encoded it: `ts` is always a true
    * TimestampType (µs, UTC session zone — required by streaming
    * watermarks) and `ts_ns` is always the raw epoch-nanos long (the
    * exact-arithmetic column the temporal joins key on). Three
    * generator encodings are handled: int64 nanos (read via
    * nanosAsLong), naive timestamp_ntz µs (epoch derived by NTZ-NTZ
    * timestampdiff — pure calendar arithmetic, SESSION-TIMEZONE-FREE,
    * i.e. the naive value is always read as UTC epoch, matching
    * DuckDB's naive epoch math even if a caller overrides
    * GraftSession's UTC default), and tz-adjusted timestamp µs. */
  def readTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    name match {
      case "events" => df.schema("ts").dataType match {
        case LongType =>
          // keep raw nanos as ts_ns; ts becomes a true TimestampType (µs)
          df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        case TimestampNTZType =>
          // tz-independent: epoch micros via NTZ-NTZ timestampdiff (pure
          // calendar arithmetic — a cast to TimestampType would instead
          // interpret the naive value in the SESSION zone, silently
          // shifting ts/ts_ns on any non-UTC session), then rebuild ts
          // from the epoch value
          df.withColumn("ts_ns",
              expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
                * lit(1000L))
            .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        case TimestampType =>
          df.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
        case other => df // unknown encoding: leave untouched
      }
      case _ => df
    }
  }

  /** Small driver-side byte artifact write (a serialized Bloom filter,
    * a model blob) through the Hadoop FS API — works on any configured
    * filesystem, overwrite semantics. For DATA use the DataFrame
    * writers; this is for plan-side artifacts a restart wants to load
    * without re-running jobs (e.g.
    * [[graft.functions.Dedup.buildBandBloom]]). */
  def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hp, true)
    try out.write(bytes) finally out.close()
  }

  /** Read a [[writeBytes]] artifact back. */
  def readBytes(spark: SparkSession, path: String): Array[Byte] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hp)
    try {
      val len = fs.getFileStatus(hp).getLen
      // a >2 GB artifact would truncate through toInt into a wrong- or
      // negative-sized buffer — fail loudly instead (this API is for
      // small driver-side artifacts; use the DataFrame readers for data)
      require(len <= Int.MaxValue, s"artifact too large for readBytes: $len bytes at $path")
      val buf = new Array[Byte](len.toInt)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  /** BigQuery-write analog (bq.clj:256-353): parquet/table sink with
    * create/write dispositions → SaveMode, time-partitioning/clustering →
    * partitionBy/bucketBy, dynamic table destinations → partition
    * column. */
  def writeParquet(df: DataFrame, path: String,
                   mode: SaveMode = SaveMode.Overwrite,
                   partitionBy: Seq[String] = Nil,
                   numShards: Int = 0): Unit = {
    val shaped = if (numShards > 0) df.repartition(numShards) else df
    val w = shaped.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Range-clustered parquet write: `repartitionByRange` +
    * `sortWithinPartitions` on the cluster keys, so every output file
    * covers a disjoint key range and its row-group min/max statistics
    * actually prune — the 100 TB recipe for selective scans on a
    * non-partition column (partitionBy handles low-cardinality keys;
    * this handles high-cardinality ones). One range shuffle at write
    * time buys data skipping on every subsequent filtered read. */
  def writeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                         numShards: Int = 0,
                         mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(sortCols.nonEmpty, "writeSortedParquet needs at least one sort column")
    val cols = sortCols.map(col)
    val ranged =
      if (numShards > 0) df.repartitionByRange(numShards, cols: _*)
      else df.repartitionByRange(cols: _*)
    ranged.sortWithinPartitions(cols.toIndexedSeq: _*).write.mode(mode).parquet(path)
  }

  /** Bucketed table write: pre-shuffles once at write time so
    * subsequent joins/aggregations on the bucket keys are co-located —
    * zero-shuffle joins between tables bucketed the same way (the
    * 100 TB recipe for repeatedly-joined fact tables; verified
    * exchange-free in IOSpec). */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(tableName)
  }

  /** `write-text-file-by-transform` / FileIO.writeDynamic
    * (core.clj:1276-1280, 1496-1518): dynamic destinations = partitioned
    * write on a destination column. */
  def writeDynamic(df: DataFrame, path: String, destCol: Column,
                   format: String = "json", mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("__dest", destCol).write.mode(mode)
      .partitionBy("__dest").format(format).save(path)

  /** `:checkpoint` debug tee (core.clj:557-559, 498-519): cache the
    * intermediate, dump it as JSON on the side, pass it through. */
  def checkpointTee(df: DataFrame, path: String): DataFrame = {
    val cached = df.cache()
    cached.write.mode(SaveMode.Overwrite).json(path)
    cached
  }

  /** `generate-input` (core.clj:693-714): in-memory rows → DataFrame
    * (empty allowed). */
  def generateInput[T <: Product : org.apache.spark.sql.Encoder](spark: SparkSession, rows: Seq[T]): Dataset[T] =
    spark.createDataset(rows)
}
