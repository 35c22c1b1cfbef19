package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Combiners, Transforms}
import graft.sources.SchemaDsl
import graft.streaming.Sources

class ComposeSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("compose = ptransform composite (core.clj:937-988)") {
    val pipeline = Transforms.compose(
      (df: DataFrame) => df.where($"n" > 1),
      (df: DataFrame) => df.withColumn("sq", $"n" * $"n"))
    val out = Seq(1, 2, 3).toDF("n").transform(pipeline)
    assert(out.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == Set((2, 4), (3, 9)))
  }

  test("composeIf applies conditionally (pt-cond->>, core.clj:975-988)") {
    val df = Seq(1, 2, 3).toDF("n")
    val on = df.transform(Transforms.composeIf(cond = true, _.where($"n" > 1)))
    val off = df.transform(Transforms.composeIf(cond = false, _.where($"n" > 1)))
    assert(on.count() == 2 && off.count() == 3)
  }

  test("groupByExpr keys by expression then groups (core.clj:990-1020)") {
    val g = graft.operators.Grouping.groupByExpr(
      Seq("aa", "ab", "b").toDF("s"), substring($"s", 1, 1), "k")
    val m = g.collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).size).toMap
    assert(m == Map("a" -> 2, "b" -> 1))
  }

  test("combineBy = with-keys + per-key combine (core.clj:1915-1946)") {
    val out = Combiners.combineBy(Seq(("aa", 1), ("ab", 2), ("b", 3)).toDF("s", "v"),
      substring($"s", 1, 1).as("k"), sum($"v").as("sv"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 3L), ("b", 3L)))
  }
}

class SchemaDslSpec extends AnyFunSuite {
  import SchemaDsl._

  test("BQ-style schema DSL → StructType (bq.clj:355-436)") {
    val s = schema(
      field("id", "INTEGER", Required),
      field("name", "STRING"),
      field("price", "NUMERIC", precision = 10, scale = 2),
      field("tags", "STRING", Repeated),
      record("address", Nullable,
        field("street", "STRING"),
        field("zip", "STRING", Required)))
    assert(s("id").dataType == LongType && !s("id").nullable)
    assert(s("price").dataType == DecimalType(10, 2))
    assert(s("tags").dataType == ArrayType(StringType, containsNull = false))
    val addr = s("address").dataType.asInstanceOf[StructType]
    assert(addr("zip").nullable == false)
    intercept[IllegalArgumentException](field("x", "BOGUS"))
  }
}

class ExtensionsRegistrySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("custom expressions callable from SQL via GraftExtensions") {
    val fp = spark.sql("SELECT simhash64('a b c') AS fp").head().getLong(0)
    assert(fp == graft.plans.SimHash64.fingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    val sig = spark.sql("SELECT minhash_signature('hello world', 3, 16) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 16)
    val sh = spark.sql("SELECT shingle_hashes('abcd', 3) AS h").head().getSeq[Long](0)
    assert(sh.length == 2 && sh == sh.sorted) // "abc","bcd" → 2 sorted hashes
    val tsh = spark.sql("SELECT token_shingle_hashes('a b c d', 3) AS h")
      .head().getSeq[Long](0)
    assert(tsh.length == 2 && tsh == tsh.sorted) // "a b c","b c d"
    val shc = spark.sql("SELECT shingle_hash_counts('aaaa', 3) AS hc")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(shc.length == 1 && shc.head.getInt(1) == 2) // "aaa" twice
    val cos = spark.sql(
      "SELECT vector_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val dot = spark.sql(
      "SELECT vector_dot(array(2.0D, 1.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(dot == 10.0)
    // unicode_normalize: composed vs decomposed é, NFKC ligature fold
    val nfc = spark.sql("SELECT unicode_normalize('é') AS s").head().getString(0)
    assert(nfc == "é")
    val nfkc = spark.sql("SELECT unicode_normalize('ﬁ', 'NFKC') AS s")
      .head().getString(0)
    assert(nfkc == "fi")
  }

  test("shingle_hashes/minhash_signature reject n < 1 / k < 1 at analysis") {
    // n < 1 used to surface as an ArrayIndexOutOfBoundsException at
    // EXECUTION; checkInputDataTypes must fail the query at analysis
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT shingle_hashes('abcd', 0)").collect())
    assert(e1.getMessage.contains("n >= 1"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_signature('abcd', 0, 16)").collect())
    assert(e2.getMessage.contains("n >= 1"), e2.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT minhash_signature('abcd', 3, 0)").collect())
    assert(e3.getMessage.contains("k >= 1"), e3.getMessage)
  }

  test("optimizer rule rewrites size(collect_list) to count") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
      .groupBy($"k").agg(size(collect_list($"v")).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("collect_list"), s"collect_list not rewritten:\n$optimized")
    assert(optimized.contains("count"))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("a", 2), ("b", 1)))
    val dfSet = Seq(("a", 1), ("a", 1), ("a", 2)).toDF("k", "v")
      .groupBy($"k").agg(size(collect_set($"v")).as("n"))
    assert(!dfSet.queryExecution.optimizedPlan.toString.contains("collect_set"))
    assert(dfSet.head().getInt(1) == 2)
  }

  test("GraftSession.fromArgs CLI parsing (core.clj:1048-1069)") {
    val cfg = GraftSession.fromArgs(Array(
      "--appName=x", "--shufflePartitions=7", "--spark.foo=bar"))
    assert(cfg.appName == "x" && cfg.shufflePartitions == 7)
    assert(cfg.extraConf == Map("spark.foo" -> "bar"))
    // cores: SPARK_GRAFT_CPUS when set, else every processor the JVM sees
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val default = GraftSession.Config()
    assert(default.master == s"local[$cpus]" && default.shufflePartitions == cpus)
  }

  test("GraftSession.conf: local masters list files on the driver, cluster masters keep Spark's default") {
    import GraftSession.{Config, ListingThresholdKey, conf}
    def threshold(c: Config) = conf(c).toMap.get(ListingThresholdKey)
    for (m <- Seq("local", "local[4]", "local[*]", "local[2,3]"))
      assert(threshold(Config(master = m)).contains(Int.MaxValue.toString), m)
    for (m <- Seq("spark://host:7077", "yarn", "local-cluster[2,1,1024]", "k8s://https://h:443"))
      assert(threshold(Config(master = m)).isEmpty, m)
    // a caller's value still wins, on either kind of master
    val extra = Map(ListingThresholdKey -> "32")
    assert(threshold(Config(master = "local[4]", extraConf = extra)).contains("32"))
    assert(threshold(Config(master = "yarn", extraConf = extra)).contains("32"))
  }
}

class ExamplesSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("WordCount example end-to-end (examples.clj:23-54)") {
    val base = java.nio.file.Files.createTempDirectory("graft-wc").toString
    Seq("the quick fox", "the lazy dog", "fox!").toDS.write.text(base + "/in")
    graft.examples.WordCount.run(spark, base + "/in", base + "/out")
    val counts = spark.read.json(base + "/out")
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("count")).toMap
    assert(counts("the") == 2L && counts("fox") == 2L && counts("dog") == 1L)
  }
}

class SourcesSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("pubsub-shaped messages with timestamp attribute (pubsub.clj:57-121)") {
    val df = Seq(("hello", Map("ts" -> "100", "k" -> "v"))).toDF("body", "attrs")
    val msgs = Sources.asMessages(df, $"body", $"attrs", timestampAttr = Some("ts"))
    val r = msgs.head()
    assert(r.getAs[String]("payload") == "hello")
    assert(r.getAs[Map[String, String]]("attributes")("k") == "v")
    assert(r.getAs[java.sql.Timestamp]("event_time").getTime == 100000L)
  }

  test("windowed file sink: per-window directories (FileNamePolicy analog)") {
    val base = java.nio.file.Files.createTempDirectory("graft-winsink").toString
    Seq(("k", 0, 1.0), ("k", 3700, 2.0)).toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds($"sec")).write.parquet(base + "/in")
    val stream = spark.readStream.schema(spark.read.parquet(base + "/in").schema)
      .parquet(base + "/in")
    val agg = stream.withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 hour")).agg(sum($"v").as("s"))
    val q = Sources.windowedFileSink(agg, base + "/out", base + "/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val dirs = new java.io.File(base + "/out").listFiles()
      .filter(_.getName.startsWith("window_start=")).map(_.getName).sorted
    assert(dirs.length == 1) // watermark closes only the first window
    assert(dirs.head.contains("1970-01-01_00-00-00"))
  }

  test("pub/sub-shaped streaming source from a message directory (pubsub.clj:57-121)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-psrc").toString + "/msgs"
    Seq(("m1", Map("ts" -> "100")), ("m2", Map("ts" -> "200")))
      .toDF("payload", "attributes").write.json(dir)
    val stream = Sources.watchMessages(spark, dir, timestampAttr = Some("ts"))
    assert(stream.isStreaming)
    val name = Sources.runToMemory(stream, "psrc_out")
    val rows = spark.table(name).collect()
      .map(r => r.getAs[String]("payload") ->
        r.getAs[java.sql.Timestamp]("event_time").getTime).toMap
    assert(rows == Map("m1" -> 100000L, "m2" -> 200000L))
  }

  test("windowed named file sink: FileNamePolicy shard filenames (core.clj:2157-2209)") {
    val base = java.nio.file.Files.createTempDirectory("graft-namesink").toString
    Seq(("k", 0, 1.0), ("k", 10, 2.0), ("k", 3700, 4.0)).toDF("k", "sec", "v")
      .withColumn("ts", timestamp_seconds($"sec")).write.parquet(base + "/in")
    val stream = spark.readStream.schema(spark.read.parquet(base + "/in").schema)
      .parquet(base + "/in")
    val agg = stream.withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 hour")).agg(sum($"v").as("s"))
    val q = Sources.windowedNamedFileSink(agg.select($"window", $"s"),
      base + "/out", base + "/ckpt", prefix = "counts", suffix = ".json").start()
    try q.processAllAvailable() finally q.stop()
    val files = new java.io.File(base + "/out").listFiles().map(_.getName)
      .filter(_.startsWith("counts-")).sorted
    // watermark (max ts 3700 - 0s) closes only the [00:00,01:00) window
    assert(files.toSeq == Seq("counts-1970-01-01T00-00-00-00000-of-00001.json"))
    val s = spark.read.json(base + "/out/" + files.head).head().getAs[Double]("s")
    assert(s == 3.0)
  }

  test("file-watch source + synchronous memory run (core.clj:1207-1217)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-watch").toString + "/in"
    Seq("a", "b", "c").toDS.write.text(dir)
    val stream = Sources.watchTextFiles(spark, dir)
    assert(stream.isStreaming)
    val name = Sources.runToMemory(stream, "watch_out")
    assert(spark.table(name).count() == 3)
  }

  test("kafka option mapping reaches the kafka source (kafka.clj:79-132)") {
    // the kafka connector jar isn't shipped in this environment; the
    // wiring is correct iff Spark resolves our options down to the
    // kafka source lookup (and fails there, not earlier).
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Sources.readKafka(spark, "localhost:9092", Seq("t1", "t2"),
        startingOffsets = "earliest", readCommitted = true, includeHeaders = true)
    }
    assert(e.getMessage.contains("kafka"))
  }
}
