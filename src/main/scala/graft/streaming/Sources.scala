package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Unbounded sources/sinks — reference kafka.clj / pubsub.clj and the
  * file-watching text read (core.clj:1207-1217 `:watch-new-files`).
  *
  * Every reference Kafka knob maps onto a Spark kafka-source option
  * (kafka.clj:11-194 → spark kafka integration):
  *   bootstrap servers → kafka.bootstrap.servers; topics → subscribe;
  *   partitions → assign; start offsets/commit-on-finalize →
  *   startingOffsets; read-committed → kafka.isolation.level; headers →
  *   includeHeaders; bounded read (max-num-records / max-read-time) →
  *   batch `spark.read.format("kafka")` with endingOffsets.
  * Pub/Sub (pubsub.clj:57-121) has no built-in Spark source; its
  * semantics (payload + attributes map + timestamp attribute) map to
  * the kafka/file/rate forms below with a MapType attributes column.
  */
object Sources {

  /** File-watch streaming read (`:watch-new-files` core.clj:1207-1217):
    * Spark's file source tails a directory natively.
    * `maxFilesPerTrigger` is the poll-pacing analog of the reference's
    * watch interval: it bounds how many newly-seen files each
    * micro-batch ingests, so a backlog drains in bounded-memory batches
    * instead of one giant catch-up batch. Termination (the reference's
    * `Watch.Growth` terminate-after strategy) is driver-side in Spark —
    * see [[runFor]].
    *
    * Each micro-batch lists its new files as the root paths of a file
    * index. A stream copies its session's SQL conf when it starts, so
    * in a local session built by `GraftSession.build` a batch of any
    * size lists on the driver; under Spark's default threshold a batch
    * of more than 32 files starts a listing job of one task per file
    * (0.8 s of a 64-file batch on a 4-core box, against 0.03 s on the
    * driver). */
  def watchTextFiles(spark: SparkSession, path: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(path).toDF("line")
  }

  /** [[watchTextFiles]] for parquet files of a known `schema`. */
  def watchParquet(spark: SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(path)
  }

  /** Terminate-after helper (core.clj:1207-1217 `:watch-new-files`
    * termination strategy analog): run an already-started query for at
    * most `timeoutMs`, then stop it if still active. Returns true if
    * the query terminated on its own within the budget (Beam's
    * afterTotalOf / afterTimeSinceNewOutput strategies collapse to a
    * wall-clock budget here — Spark file sources never self-terminate
    * on continuous triggers). */
  def runFor(query: StreamingQuery, timeoutMs: Long): Boolean = {
    val done = query.awaitTermination(timeoutMs)
    if (!done) query.stop()
    done
  }

  /** The reference's read-kafka knob map (kafka.clj:79-132) as Spark
    * reader options — pure (unit-testable without a broker); `extra`
    * wins on conflict like the reference's `:consumer-properties`
    * merge. */
  def kafkaReadOptions(bootstrapServers: String, topics: Seq[String],
                       startingOffsets: String = "latest",
                       readCommitted: Boolean = false,
                       includeHeaders: Boolean = false,
                       extra: Map[String, String] = Map.empty): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "includeHeaders" -> includeHeaders.toString) ++
      (if (readCommitted) Map("kafka.isolation.level" -> "read_committed") else Map.empty)
    base ++ extra
  }

  /** Kafka streaming read (kafka.clj:79-132 `read-kafka`). The record
    * shape mirrors the reference's map: payload/key/offset/partition/
    * timestamp/topic, plus headers when `includeHeaders` asked the
    * source for them. Untestable without a broker — the option
    * mapping ([[kafkaReadOptions]]) is the tested deliverable. */
  def readKafka(spark: SparkSession, bootstrapServers: String, topics: Seq[String],
                startingOffsets: String = "latest",
                readCommitted: Boolean = false,
                includeHeaders: Boolean = false,
                extra: Map[String, String] = Map.empty): DataFrame = {
    val base = Seq("value AS payload", "key", "offset", "partition", "timestamp", "topic")
    spark.readStream.format("kafka")
      .options(kafkaReadOptions(bootstrapServers, topics, startingOffsets,
        readCommitted, includeHeaders, extra))
      .load().selectExpr(
        (if (includeHeaders) base :+ "headers" else base): _*)
  }

  /** Kafka write (kafka.clj:134-194 `write-kafka`): expects key/value
    * columns; EOS maps to checkpointed exactly-once sink semantics. */
  def writeKafka(df: DataFrame, bootstrapServers: String, topic: String,
                 checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** Pub/Sub message shape (pubsub.clj:57-121): payload + attributes
    * map + event time taken from a timestamp attribute
    * (`:timestamp-label`). Works on any source carrying those columns
    * (batch or streaming — for local tests, a file source). */
  def asMessages(df: DataFrame, payload: org.apache.spark.sql.Column,
                 attrs: org.apache.spark.sql.Column,
                 timestampAttr: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = df.select(payload.as("payload"), attrs.as("attributes"))
    timestampAttr.fold(base.withColumn("event_time", current_timestamp())) { k =>
      base.withColumn("event_time",
        timestamp_seconds(element_at(col("attributes"), k).cast("long")))
    }
  }

  /** Windowed file sink: streaming windowed aggregates land in
    * per-window directories via partitionBy — the Spark-native
    * approximation of the reference's windowed FileNamePolicy
    * (core.clj:2157-2209; filenames are committer-owned in Spark,
    * directories are the contract). */
  def windowedFileSink(agg: DataFrame, path: String, checkpointDir: String,
                       format: String = "parquet"): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions._
    agg.withColumn("window_start", date_format(col("window.start"), "yyyy-MM-dd_HH-mm-ss"))
      .drop("window")
      .writeStream.outputMode("append").format(format)
      .option("path", path).option("checkpointLocation", checkpointDir)
      .partitionBy("window_start")
  }

  /** Pub/Sub-shaped streaming source: tail a directory of JSON-lines
    * messages `{payload, attributes{...}}` (the shape a Pub/Sub relay
    * would drop) and surface the reference message contract —
    * payload + attributes map + event time from a timestamp attribute
    * (pubsub.clj:57-121 `:timestamp-label`). Batches list their files
    * as [[watchTextFiles]] describes. */
  def watchMessages(spark: SparkSession, path: String,
                    timestampAttr: Option[String] = None,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("payload", StringType),
      StructField("attributes", MapType(StringType, StringType))))
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    asMessages(r.json(path), col("payload"), col("attributes"), timestampAttr)
  }

  /** Windowed FileNamePolicy analog with real shard *filenames*
    * (core.clj:2157-2209: `prefix-windowstart-shard-of-n.suffix`).
    * Spark's committer owns in-flight names, so the policy is applied
    * as a per-window atomic rename after each micro-batch commit —
    * the set of windows per batch is small by contract (only panes the
    * batch touched). The crash-safe staged-rename sequence (handles
    * pane refinement / replay with a changed shard count) is shared
    * with the batch writers in [[graft.sources.FileNaming]]; renames
    * go through the Hadoop FileSystem API so the sink works on any FS,
    * not just local disk. */
  def windowedNamedFileSink(agg: DataFrame, path: String, checkpointDir: String,
                            prefix: String = "output", suffix: String = ".json",
                            numShards: Int = 1): DataStreamWriter[Row] =
    agg.writeStream.option("checkpointLocation", checkpointDir).foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val rows = batch
          .withColumn("__w", date_format(col("window.start"), "yyyy-MM-dd'T'HH-mm-ss"))
          .drop("window")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val windows = rows.select("__w").distinct().collect().map(_.getString(0))
          val conf = batch.sparkSession.sparkContext.hadoopConfiguration
          windows.foreach { w =>
            val tmp = s"$path/.inprogress-$batchId-$w"
            rows.where(col("__w") === w).drop("__w")
              .coalesce(math.max(numShards, 1)).write.mode("overwrite").json(tmp)
            graft.sources.FileNaming.stagedRename(conf, tmp, path,
              graft.sources.FileNaming.defaultName(s"$prefix-$w", suffix) _,
              cleanupGlob = Some(s"$prefix-$w-*$suffix"),
              stageTag = s"$batchId-$w")
          }
        } finally { rows.unpersist(); () }
    }

  /** Streaming side outputs (reference side-outputs on unbounded
    * pcolls, core.clj:302-360): route each micro-batch to per-tag
    * sinks via foreachBatch — one pass over the batch, cached, then
    * N filtered writes. */
  def foreachBatchRoute(df: DataFrame, tagCol: org.apache.spark.sql.Column,
                        tags: Seq[String])(
      sink: (String, DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tagged = batch.withColumn("__tag", tagCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try tags.foreach { t =>
        sink(t, tagged.where(org.apache.spark.sql.functions.col("__tag") === t).drop("__tag"), batchId)
      } finally tagged.unpersist()
    }

  /** Rate source — the local stand-in for an unbounded source in tests
    * (rows of (timestamp, value) at rowsPerSecond). */
  def rateSource(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()

  /** Run a streaming pipeline to a memory sink synchronously (the
    * DirectRunner/TestPipeline analog): processes all available input,
    * returns the table name. */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): String = {
    val q: StreamingQuery = df.writeStream.outputMode(outputMode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    name
  }
}
