package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftIO
import graft.streaming.{Stateful, Windows}

class IOSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-io").toString

  test("text round-trip with shards + gzip (core.clj:1284-1304, core_test.clj:34-75)") {
    val dir = tmp() + "/t"
    GraftIO.writeTextFile(Seq("foo", "bar", "baz").toDS, dir, numShards = 1,
      compression = Some("gzip"))
    val back = GraftIO.readTextFile(spark, dir).collect().toSet
    assert(back == Set("foo", "bar", "baz"))
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".gz")))
  }

  test("readParquet remembers an inferred schema: a second read of a table starts no job") {
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = TestSpark.jobsStarted(GraftIO.readTable(spark, dir, "t"))
    val (second, hitJobs) = TestSpark.jobsStarted(GraftIO.readTable(spark, dir, "t"))
    assert(inferJobs >= 1, "the first read infers the schema with a Spark job")
    assert(hitJobs == 0)
    assert(GraftIO.rememberedSchemaPaths(spark)(s"$dir/t.parquet"))
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("local sessions list many paths on the driver; the conf still overrides it") {
    val dir = tmp() + "/t"
    spark.range(0, 40, 1, 40).selectExpr("id % 4 AS k", "id AS v").write.parquet(dir)
    val files = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq
    assert(files.size == 40)
    val schema = spark.read.parquet(dir).schema
    def read() = spark.read.schema(schema).parquet(files: _*)
    assert(TestSpark.jobsStarted(read())._2 == 0)
    // Spark's default: more paths than this list with a job
    TestSpark.withConf(GraftSession.ListingThresholdKey, "32") {
      assert(TestSpark.jobsStarted(read())._2 >= 1)
    }
  }

  test("readParquet: an overwrite with a different schema is read with the new schema") {
    val path = tmp() + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    GraftIO.readParquet(spark, path)
    assert(GraftIO.readParquet(spark, path).columns.toSeq == Seq("k", "v"))
    Seq((2.5, 3, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(path)
    val after = GraftIO.readParquet(spark, path)
    assert(after.columns.toSeq == Seq("x", "y", "z"))
    assert(after.as[(Double, Int, Boolean)].collect().toSeq == Seq((2.5, 3, true)))
  }

  test("readParquet: a conf change between reads infers again (nanosAsLong, binaryAsString)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // parquet types whose Spark type depends on a conf: int64 nanos
    // (a long only under nanosAsLong, else rejected) and unannotated
    // binary (a string only under binaryAsString)
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 ts (TIMESTAMP(NANOS,true)); required binary tag; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("tag", "x"))
    w.close()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val binStr = "spark.sql.parquet.binaryAsString"
    val before = Seq(nanos, binStr).map(k => k -> spark.conf.getOption(k))
    def events() = GraftIO.readTable(spark, dir, "events")
    def tsNs() = events().select("ts_ns").as[Long].head()
    try {
      spark.conf.set(nanos, "true")
      assert(tsNs() == 1700000000123456789L)
      assert(tsNs() == 1700000000123456789L)
      // Spark's own answer without nanosAsLong, not the remembered long
      spark.conf.set(nanos, "false")
      val e = intercept[org.apache.spark.sql.AnalysisException](events())
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      spark.conf.set(nanos, "true")
      assert(tsNs() == 1700000000123456789L)
      import org.apache.spark.sql.types.{BinaryType, StringType}
      spark.conf.set(binStr, "false")
      assert(events().schema("tag").dataType == BinaryType)
      spark.conf.set(binStr, "true")
      assert(events().schema("tag").dataType == StringType)
      assert(events().select("tag").as[String].head() == "x")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("readParquet: a stopped session's remembered schemas are not kept") {
    import scala.jdk.CollectionConverters._
    // in a child JVM: stopping the shared test session would end the suite
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.SchemaMemoStopCheck", tmp())
    val err = new StringBuilder
    val out = scala.sys.process.Process(cmd)
      .!!(scala.sys.process.ProcessLogger(_ => (), l => err.append(l).append('\n')))
    assert(out.linesIterator.contains("memo held=1 stopped=0 live=1 sessions=1"),
      s"$out\n${err.takeRight(4000)}")
  }

  test("model artifacts: versioned round-trips, kind/shape validation, merges parquet") {
    import graft.sources.ModelArtifacts
    val dir = tmp()
    // every shape round-trips bit-exact
    val vec = Array(1.5, -2.25, 0.0, 1e-300)
    ModelArtifacts.saveDsirLogRatios(spark, s"$dir/lr.bin", vec)
    assert(ModelArtifacts.loadDsirLogRatios(spark, s"$dir/lr.bin").toSeq == vec.toSeq)
    val counts = Array(0L, 42L, Long.MaxValue)
    ModelArtifacts.saveDsirBucketCounts(spark, s"$dir/c.bin", counts)
    assert(ModelArtifacts.loadDsirBucketCounts(spark, s"$dir/c.bin").toSeq == counts.toSeq)
    val cents = Array(Array(1.0, 2.0), Array(-3.0, 4.5))
    ModelArtifacts.saveIvfCentroids(spark, s"$dir/ivf.bin", cents)
    assert(ModelArtifacts.loadIvfCentroids(spark, s"$dir/ivf.bin")
      .map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val (mins, maxs) = (Array(0.0, -1.0), Array(1.0, 2.0))
    ModelArtifacts.saveSq8Bounds(spark, s"$dir/sq8.bin", mins, maxs)
    val (lm, lx) = ModelArtifacts.loadSq8Bounds(spark, s"$dir/sq8.bin")
    assert(lm.toSeq == mins.toSeq && lx.toSeq == maxs.toSeq)
    val cb = Array(Array(Array(1.0), Array(2.0)), Array(Array(3.0), Array(4.0)))
    ModelArtifacts.savePqCodebooks(spark, s"$dir/pq.bin", cb)
    assert(ModelArtifacts.loadPqCodebooks(spark, s"$dir/pq.bin")
      .map(_.map(_.toSeq).toSeq).toSeq == cb.map(_.map(_.toSeq).toSeq).toSeq)
    // loading under the wrong kind fails with the stored kind named
    val e = intercept[IllegalArgumentException](
      ModelArtifacts.loadIvfCentroids(spark, s"$dir/sq8.bin"))
    assert(e.getMessage.contains("sq8-bounds") && e.getMessage.contains("ivf-centroids"))
    // a non-artifact file fails the magic check, not with garbage
    GraftIO.writeBytes(spark, s"$dir/junk.bin", "not a model".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](
      ModelArtifacts.loadDsirLogRatios(spark, s"$dir/junk.bin"))
    assert(e2.getMessage.contains("not a graft model artifact"))
    // table-shaped artifact: merges through parquet
    val merges = Seq(("a", "b"), ("ab", "c"))
    graft.functions.TextFunctions.bpeMergesToTable(spark, merges)
      .write.parquet(s"$dir/merges.parquet")
    assert(graft.functions.TextFunctions.bpeMergesFromTable(
      spark.read.parquet(s"$dir/merges.parquet")) == merges)
  }

  test("compression round-trip matrix (core_test.clj:34-75)") {
    // zstd omitted: Hadoop's ZStandardCodec needs libzstd, absent in
    // this container (parquet zstd works — different codec path)
    for (codec <- Seq("gzip", "bzip2", "deflate", "snappy", "lz4")) {
      val dir = tmp() + s"/c_$codec"
      GraftIO.writeTextFile(Seq("alpha", "beta").toDS, dir, numShards = 1,
        compression = Some(codec))
      assert(GraftIO.readTextFile(spark, dir).collect().toSet == Set("alpha", "beta"),
        s"codec $codec")
      val jdir = tmp() + s"/j_$codec"
      GraftIO.writeJsonFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), jdir,
        numShards = 1, compression = Some(codec))
      assert(GraftIO.readJsonFile(spark, jdir).select($"k").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L), s"json codec $codec")
    }
  }

  test("batch filename policy: exact shard names + re-emission overwrite safety (core.clj:1219-1253, 2157-2209)") {
    val dir = tmp() + "/named"
    // default policy: prefix-00000-of-0000N.suffix
    val first = GraftIO.writeTextFileNamed(
      (1 to 40).map(i => s"row$i").toDS.repartition(3), dir,
      prefix = "report", suffix = ".txt", numShards = 3)
    def listed() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(!_.startsWith(".")).sorted.toSeq
    assert(listed() == Seq(
      "report-00000-of-00003.txt", "report-00001-of-00003.txt",
      "report-00002-of-00003.txt"))
    assert(first.map(p => new java.io.File(p).getName) == listed())
    assert(GraftIO.readTextFile(spark, dir + "/report-*").count() == 40)
    // re-emission with FEWER shards: the old 3-shard emission must be
    // fully replaced — no stale report-...-of-00003 tails double-counting
    GraftIO.writeTextFileNamed(Seq("a", "b").toDS, dir,
      prefix = "report", suffix = ".txt", numShards = 1)
    assert(listed() == Seq("report-00000-of-00001.txt"))
    assert(GraftIO.readTextFile(spark, dir + "/report-*").collect().toSet == Set("a", "b"))
  }

  test("batch filename policy: crashed-attempt debris is swept; other shapes untouched") {
    val dir = tmp() + "/swept"
    new java.io.File(dir).mkdirs()
    // hidden leftovers a crashed prior attempt of THIS shape strands…
    Files.writeString(java.nio.file.Paths.get(dir, ".pending-deadbeef-report-00000-of-00002.txt"), "stale")
    Files.writeString(java.nio.file.Paths.get(dir, ".trash-deadbeef-report-00000-of-00001.txt"), "stale")
    // …and another writer's in-flight state, which must survive
    Files.writeString(java.nio.file.Paths.get(dir, ".pending-cafe-other-00000-of-00001.log"), "not ours")
    GraftIO.writeTextFileNamed(Seq("fresh").toDS, dir,
      prefix = "report", suffix = ".txt", numShards = 1)
    // .crc = local-FS checksum sidecar
    val all = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(all == Set("report-00000-of-00001.txt", ".pending-cafe-other-00000-of-00001.log"),
      all.toString)
    assert(GraftIO.readTextFile(spark, dir + "/report-*").collect().toSeq == Seq("fresh"))
  }

  test("batch filename policy: re-emission converges from a mid-sequence crash state") {
    // crash between steps 2 and 3: previous emission moved aside to
    // .trash-*, new shards still hidden as .pending-*, no final files —
    // the old data is recoverable, and the next emission converges
    val dir = tmp() + "/crashed"
    new java.io.File(dir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(dir, ".trash-oldtag-report-00000-of-00001.txt"), "old emission")
    Files.writeString(java.nio.file.Paths.get(dir, ".pending-oldtag-report-00000-of-00001.txt"), "crashed attempt")
    GraftIO.writeTextFileNamed(Seq("recovered").toDS, dir,
      prefix = "report", suffix = ".txt", numShards = 1)
    val all = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(all == Set("report-00000-of-00001.txt"), all.toString)
    assert(GraftIO.readTextFile(spark, dir + "/report-*").collect().toSeq == Seq("recovered"))
  }

  test("batch filename policy: custom naming-fn hook (core.clj:1249-1251)") {
    val dir = tmp() + "/custom"
    GraftIO.writeTextFileNamed(Seq("x", "y").toDS, dir,
      numShards = 2,
      namingFn = Some((i, n) => s"chunk_${i}_$n.dat"),
      cleanupGlob = Some("chunk_*.dat"))
    val names = new java.io.File(dir).listFiles()
      .map(_.getName).filter(!_.startsWith(".")).sorted.toSeq
    assert(names == Seq("chunk_0_2.dat", "chunk_1_2.dat"))
    // cleanupGlob makes the custom policy replayable too
    GraftIO.writeTextFileNamed(Seq("z").toDS, dir, numShards = 1,
      namingFn = Some((i, n) => s"chunk_${i}_$n.dat"),
      cleanupGlob = Some("chunk_*.dat"))
    assert(new java.io.File(dir).listFiles()
      .map(_.getName).filter(!_.startsWith(".")).toSeq == Seq("chunk_0_1.dat"))
  }

  test("batch filename policy: custom naming-fn without cleanupGlob sweeps its own trash debris") {
    // crash between steps 2 and 4 on the cleanupGlob=None path strands
    // hidden .trash/.pending copies; the next emission of the same final
    // names must sweep them (name-suffix match), leaving other debris
    val dir = tmp() + "/customcrash"
    new java.io.File(dir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(dir, ".trash-oldtag-chunk_0_1.dat"), "stranded")
    Files.writeString(java.nio.file.Paths.get(dir, ".pending-oldtag-chunk_0_1.dat"), "stranded")
    Files.writeString(java.nio.file.Paths.get(dir, ".trash-oldtag-unrelated.dat"), "not ours")
    GraftIO.writeTextFileNamed(Seq("z").toDS, dir, numShards = 1,
      namingFn = Some((i, n) => s"chunk_${i}_$n.dat"))
    val all = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).toSet
    assert(all == Set("chunk_0_1.dat", ".trash-oldtag-unrelated.dat"), all.toString)
    assert(GraftIO.readTextFile(spark, dir + "/chunk_*").collect().toSeq == Seq("z"))
  }

  test("batch filename policy: json twin with compression (core.clj:1219-1253)") {
    val dir = tmp() + "/namedjson"
    GraftIO.writeJsonFileNamed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir,
      prefix = "data", suffix = ".json.gz", numShards = 1,
      compression = Some("gzip"))
    val names = new java.io.File(dir).listFiles()
      .map(_.getName).filter(!_.startsWith(".")).toSeq
    assert(names == Seq("data-00000-of-00001.json.gz"))
    assert(GraftIO.readJsonFile(spark, dir + "/data-*").select($"k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("read-side options: custom delimiter and empty-match treatment (core.clj:1190-1217)") {
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "d.txt"), "a;b;c")
    val out = GraftIO.readTextFileOpts(spark, Seq(dir + "/d.txt"),
      delimiter = Some(";")).collect().toSet
    assert(out == Set("a", "b", "c"))
    // missing path: ALLOW → empty dataset, DISALLOW (default) → throw
    assert(GraftIO.readTextFileOpts(spark, Seq(dir + "/nope_dir"),
      emptyMatchAllowed = true).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      GraftIO.readTextFileOpts(spark, Seq(dir + "/nope_dir")).collect()
    }
    // ALLOW with a mix of matching and missing paths reads the
    // matching ones (Beam ALLOW semantics), not an empty set
    assert(GraftIO.readTextFileOpts(spark,
      Seq(dir + "/d.txt", dir + "/nope_dir"),
      delimiter = Some(";"), emptyMatchAllowed = true)
      .collect().toSet == Set("a", "b", "c"))
  }

  test("readTextFiles from a path collection (core.clj:1306-1332)") {
    val d1 = tmp() + "/a"; val d2 = tmp() + "/b"
    GraftIO.writeTextFile(Seq("x").toDS, d1); GraftIO.writeTextFile(Seq("y").toDS, d2)
    val out = GraftIO.readTextFiles(Seq(d1, d2).toDS).collect().toSet
    assert(out == Set("x", "y"))
  }

  test("json-lines round-trip, blank-line tolerant (core.clj:1396-1494)") {
    val dir = tmp() + "/j"
    GraftIO.writeJsonFile(Seq(("a", 1L), ("b", 2L)).toDF("id", "n"), dir, numShards = 1)
    // inject a blank line like the reference's tolerance test (api_test.clj:196-209)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json")).head
    val withBlank = "\n" + new String(Files.readAllBytes(f.toPath)) + "\n\n"
    Files.write(f.toPath, withBlank.getBytes)
    // drop stale hadoop checksums for the edited file
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val back = GraftIO.readJsonFile(spark, dir)
    assert(back.count() == 2)
    assert(back.select("id").collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("csv round-trip: header, custom delimiter, explicit vs inferred schema") {
    val dir = tmp() + "/c"
    val df = Seq(("a", 1L, 2.5), ("b", 2L, -1.0)).toDF("id", "n", "x")
    GraftIO.writeCsv(df, dir, delimiter = "|", numShards = 1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    val explicit = GraftIO.readCsv(spark, dir, delimiter = "|",
      schema = Some(schema))
    assert(explicit.schema == schema)
    assert(explicit.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2))).toSet == Set(("a", 1L, 2.5), ("b", 2L, -1.0)))
    // inferred schema reads the same VALUES (types may widen)
    val inferred = GraftIO.readCsv(spark, dir, delimiter = "|")
    assert(inferred.count() == 2 &&
      inferred.columns.toSeq == Seq("id", "n", "x"))
  }

  test("orc round-trip preserves schema and values") {
    val dir = tmp() + "/o"
    val df = Seq(("a", 1L, 2.5), ("b", 2L, -1.0)).toDF("id", "n", "x")
    GraftIO.writeOrc(df, dir, numShards = 1)
    val back = GraftIO.readOrc(spark, dir)
    // file reads widen nullability — names/types are the contract
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2))).toSet == Set(("a", 1L, 2.5), ("b", 2L, -1.0)))
    // pushdown parity with parquet: a filtered scan reads fine
    assert(GraftIO.readOrc(spark, dir).where($"n" === 2L).count() == 1)
  }

  test("parseJsonCol columnar from_json") {
    val df = Seq("""{"k": 7}""").toDF("props")
    val out = GraftIO.parseJsonCol(df, $"props",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))), "p")
    assert(out.select($"p.k").head().getLong(0) == 7L)
  }

  test("dynamic destination write = partitionBy (core.clj:1276-1280, 1496-1518)") {
    val dir = tmp() + "/d"
    GraftIO.writeDynamic(Seq(("x", "t1"), ("y", "t2")).toDF("v", "dest"), dir, $"dest")
    val dests = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("__dest="))
    assert(dests.toSet == Set("__dest=t1", "__dest=t2"))
  }

  test("checkpoint tee dumps and passes through (core.clj:557-559)") {
    val dir = tmp() + "/c"
    val df = Seq(1, 2, 3).toDF("n")
    val out = GraftIO.checkpointTee(df, dir)
    assert(out.count() == 3)
    assert(spark.read.json(dir).count() == 3)
  }

  test("range-clustered parquet write yields disjoint per-file key ranges") {
    val dir = tmp() + "/sorted"
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    GraftIO.writeSortedParquet(df, dir, Seq("o_custkey"), numShards = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length == 4)
    // each file covers a disjoint o_custkey range → min/max stats prune
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"o_custkey"), max($"o_custkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
      case _ =>
    }
    // nothing lost in the reshape
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("bucketed tables join without a shuffle (co-location recipe)") {
    // managed-table locations can survive a previous JVM's in-memory
    // catalog; clear both catalog entries and stale dirs
    Seq("bkt_left", "bkt_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    GraftIO.writeBucketed(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      "bkt_left", Seq("k"), 4, sortCols = Seq("k"))
    GraftIO.writeBucketed(Seq((1L, 10.0), (3L, 30.0)).toDF("k", "w"),
      "bkt_right", Seq("k"), 4, sortCols = Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("ES-style routed document sink (es.clj:96-156)") {
    import graft.sources.Documents
    val dir = tmp() + "/docs"
    Documents.writeDocuments(
      Seq((1L, "x", "idx_a"), (2L, "y", "idx_b")).toDF("id", "body", "dest"),
      dir, $"dest", $"id")
    val dests = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("__index="))
    assert(dests.toSet == Set("__index=idx_a", "__index=idx_b"))
    val back = spark.read.json(dir + "/__index=idx_a")
    assert(back.select("_id").head().getString(0) == "1")
  }

  test("ES-style document read: query + fields over routed docs (es.clj:17-95)") {
    import graft.sources.Documents
    val dir = tmp() + "/docs_r"
    Documents.writeDocuments(
      Seq((1L, "x", "idx_a"), (2L, "y", "idx_b"), (3L, "z", "idx_a"))
        .toDF("id", "body", "dest"),
      dir, $"dest", $"id")
    val all = Documents.readDocuments(spark, dir)
    assert(all.count() == 3 && all.columns.contains("_index"))
    val q = Documents.readDocuments(spark, dir,
      query = Some($"_index" === "idx_a" && $"body" =!= "z"),
      fields = Seq("body"))
    assert(q.columns.toSeq == Seq("_index", "_id", "body"))
    assert(q.collect().map(_.getString(2)).toSeq == Seq("x"))
  }

  test("Datastore entity codec round-trip (datastore.clj:44-176)") {
    import graft.sources.Documents
    val src = Seq((7L, "alice", 3.5)).toDF("uid", "name", "score")
    val ents = Documents.toEntities(src, "User", "uid",
      ancestors = Seq("Org" -> lit("acme")))
    val key = ents.select($"key.path").head().getSeq[org.apache.spark.sql.Row](0)
    assert(key.map(r => (r.getString(0), r.getString(1))) == Seq(("Org", "acme"), ("User", "7")))
    val back = Documents.fromEntities(ents)
    assert(back.columns.toSeq == Seq("key_name", "name", "score"))
    assert(back.head() == org.apache.spark.sql.Row("7", "alice", 3.5))
  }

  test("generateInput incl. empty (core.clj:693-714, api_test.clj:279-325)") {
    assert(GraftIO.generateInput(spark, Seq(IOSpec.P("x", 1))).count() == 1)
    assert(GraftIO.generateInput(spark, Seq.empty[IOSpec.P]).count() == 0)
  }

  test("kafka read-option mapping mirrors the reference knob map (kafka.clj:79-132)") {
    import graft.streaming.Sources
    val opts = Sources.kafkaReadOptions("b1:9092,b2:9092", Seq("t1", "t2"),
      startingOffsets = "earliest", readCommitted = true, includeHeaders = true,
      extra = Map("maxOffsetsPerTrigger" -> "1000", "startingOffsets" -> "latest"))
    assert(opts("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(opts("subscribe") == "t1,t2")
    assert(opts("kafka.isolation.level") == "read_committed")
    assert(opts("includeHeaders") == "true")
    assert(opts("maxOffsetsPerTrigger") == "1000")
    // consumer-properties merge wins on conflict, like the reference
    assert(opts("startingOffsets") == "latest")
    // no isolation override when read-committed is off
    assert(!Sources.kafkaReadOptions("b", Seq("t")).contains("kafka.isolation.level"))
  }
}

object IOSpec {
  case class P(a: String, b: Long)
}

class WindowsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  // sessionEvents fixture (api_test.clj:973-986): [(k0,0)(k1,1)(k1,2)(k0,4)],
  // gap 2s ⇒ per-session sums [0 3 4]
  def sessionEvents = Seq(("k0", 0, 0), ("k1", 1, 1), ("k1", 2, 2), ("k0", 4, 4))
    .toDF("k", "sec", "v")
    .withColumn("ts", timestamp_seconds($"sec"))

  test("sessionize: per-event session ids agree with session_window aggregation") {
    val ev = sessionEvents.withColumn("tn", $"sec".cast("long"))
    val ids = Windows.sessionize(ev, $"k", $"tn", gap = 2L)
      .groupBy($"k").agg(countDistinct($"session_idx").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val agg = sessionEvents
      .groupBy($"k", Windows.sessionWindow($"ts", "2 seconds"))
      .count()
      .groupBy($"k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids == agg) // same session count per key under the same gap
    assert(ids == Map("k0" -> 2L, "k1" -> 1L))
  }

  test("session windows per key, gap merge (core.clj:2137-2155)") {
    val out = sessionEvents
      .groupBy($"k", Windows.sessionWindow($"ts", "2 seconds"))
      .agg(sum($"v").as("s"))
      .select($"s").collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(0L, 3L, 4L))
  }

  test("fixed windows tumble (core.clj:2096-2114)") {
    val out = sessionEvents
      .groupBy(Windows.fixedWindow($"ts", "2 seconds"))
      .agg(count(lit(1)).as("n"))
      .select($"n").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 1L, 2L)) // [0,2):2 elems, [2,4):1, [4,6):1
  }

  test("sliding windows assign to multiple (core.clj:2116-2135)") {
    val out = sessionEvents
      .groupBy(Windows.slidingWindow($"ts", "4 seconds", "2 seconds"))
      .agg(count(lit(1)).as("n"))
    // each element in 2 windows → total count across windows = 8
    assert(out.agg(sum($"n")).head().getLong(0) == 8L)
  }

  test("streaming: windowed agg with watermark over memory sink") {
    val dir = Files.createTempDirectory("graft-stream").toString + "/data"
    sessionEvents.select($"k", $"ts", $"v").write.parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val agg = Windows.withLateness(stream, "ts", "10 seconds")
      .groupBy(Windows.fixedWindow($"ts", "2 seconds"), $"k")
      .agg(sum($"v").as("s"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_out").select($"k", $"s").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // 2s tumbling windows: k1's events at sec 1 and 2 straddle [0,2)/[2,4)
      assert(rows == Set(("k0", 0L), ("k1", 1L), ("k1", 2L), ("k0", 4L)))
    } finally q.stop()
  }

  test("streaming: stateful flatMapGroupsWithState running max") {
    val dir = Files.createTempDirectory("graft-stream2").toString + "/data"
    Seq(("a", 1L), ("a", 5L), ("b", 2L)).toDF("k", "v").write.parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .as[(String, Long)]
    val out = Stateful.statefulFlatMap[String, (String, Long), Long, (String, Long)](
      stream, _._1, OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (k, it: Iterator[(String, Long)], st: GroupState[Long]) =>
        val prev = st.getOption.getOrElse(Long.MinValue)
        val mx = (it.map(_._2) ++ Iterator(prev)).max
        st.update(mx)
        Iterator((k, mx))
    }
    val q = out.toDF("k", "mx").writeStream.outputMode("append")
      .format("memory").queryName("state_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("state_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("a", 5L), ("b", 2L)))
    } finally q.stop()
  }

  test("unified API: identical window helper gives identical batch and streaming results") {
    val dir = Files.createTempDirectory("graft-parity").toString + "/data"
    sessionEvents.select($"k", $"ts", $"v").write.parquet(dir)
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(Windows.fixedWindow($"ts", "2 seconds"), $"k").agg(sum($"v").as("s"))
    val batch = pipeline(spark.read.parquet(dir))
      .select($"k", $"s").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = pipeline(stream).writeStream.outputMode("complete")
      .format("memory").queryName("parity_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity_out").select($"k", $"s")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming: session windows + watermark over real events (append mode)") {
    import graft.sources.GraftIO
    val batch = GraftIO.readTable(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"ts", $"value")
    val dir = Files.createTempDirectory("graft-sess").toString + "/data"
    batch.write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val agg = Windows.withLateness(stream, "ts", "1 hour")
      .groupBy($"user_id", Windows.sessionWindow($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_out").agg(sum($"n")).head().getLong(0)
      // append mode emits only sessions closed by the watermark; all
      // but the tail sessions close, so the bulk of events must appear
      val total = batch.count()
      assert(streamed > total / 2 && streamed <= total)
    } finally q.stop()
  }

  test("streaming: foreachBatch side-output routing") {
    import graft.streaming.Sources
    val dir = Files.createTempDirectory("graft-route").toString + "/data"
    Seq((1, "a"), (2, "b"), (3, "a"), (4, "c")).toDF("n", "t").write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val seen = scala.collection.concurrent.TrieMap[String, Long]()
    val q = Sources.foreachBatchRoute(stream, $"t", Seq("a", "b")) { (tag, df, _) =>
      seen.updateWith(tag)(prev => Some(prev.getOrElse(0L) + df.count()))
    }.start()
    try {
      q.processAllAvailable()
      assert(seen("a") == 2L && seen("b") == 1L && !seen.contains("c"))
    } finally q.stop()
  }

  test("streaming dedup within watermark (exact-dedup streaming form)") {
    val dir = Files.createTempDirectory("graft-dedup").toString + "/data"
    Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val deduped = Stateful.streamingDedup(stream, Seq("k"), "ts", "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").select($"k").collect().map(_.getString(0)).sorted.toSeq
        == Seq("a", "b"))
    } finally q.stop()
  }

  test("streaming dedup against a static snapshot (recurring-crawl ingest filter)") {
    val dir = Files.createTempDirectory("graft-snapdedup").toString + "/data"
    Seq((1L, "seen before"), (2L, "brand new"), (3L, "seen before"),
        (4L, "also new")).toDF("doc_id", "text").write.parquet(dir)
    val snapshot = Seq("seen before", "retained only").toDF("snap_text")
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val kept = graft.functions.Dedup.streamingDedupAgainstSnapshot(
      stream, "text", snapshot, "snap_text")
    val q = kept.writeStream.outputMode("append")
      .format("memory").queryName("snapdedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapdedup_out").select($"doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    } finally q.stop()
    // batch form agrees on the same data (modulo its exact text re-check)
    val batch = graft.functions.Dedup.dedupAgainstSnapshot(
      spark.read.parquet(dir), "doc_id", "text", snapshot, "snap_text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(batch == Seq(2L, 4L))
  }

  test("streaming NEAR-dup filter against a persisted band table (stateless bloom probe)") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val snapshot = Seq((100L, base), (101L, "retained snapshot page two with words"))
      .toDF("snap_id", "snap_text")
    val bandDir = Files.createTempDirectory("graft-bands").toString + "/bands"
    graft.functions.Dedup.minhashBandTable(snapshot, "snap_id", "snap_text")
      .write.parquet(bandDir)
    val snapshotBands = spark.read.parquet(bandDir)
    val dir = Files.createTempDirectory("graft-neardupstream").toString + "/data"
    Seq((1L, base + "zz"),                                   // near-dup of 100
        (2L, "a completely fresh crawl document about rivers and bridges"),
        (3L, base))                                          // exact dup of 100
      .toDF("doc_id", "text").write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val kept = graft.functions.Dedup.streamingNearDupFilterAgainstBands(
      stream, "text", snapshotBands)
    val q = kept.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("neardup_out").select($"doc_id")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally q.stop()
    // identical plan on a batch frame
    val batch = graft.functions.Dedup.streamingNearDupFilterAgainstBands(
        spark.read.parquet(dir), "text", snapshotBands)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(batch == Seq(2L))
    // restartable-ingest path: bloom persisted via writeBytes and
    // reloaded — same decisions, zero jobs at stream start
    val bloomPath = Files.createTempDirectory("graft-bloom").toString + "/bands.bloom"
    GraftIO.writeBytes(spark, bloomPath,
      graft.functions.Dedup.buildBandBloom(snapshotBands))
    val reloaded = graft.functions.Dedup.streamingNearDupFilterWithBloom(
        spark.read.parquet(dir), "text", GraftIO.readBytes(spark, bloomPath))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(reloaded == Seq(2L))
    // null-text rows are KEPT, not silently dropped (a null can't be a
    // near-dup of anything; bare where(!hit) would eat the row)
    val withNull = Seq((5L, null.asInstanceOf[String]), (6L, base))
      .toDF("doc_id", "text")
    val keptNull = graft.functions.Dedup.streamingNearDupFilterWithBloom(
        withNull, "text", GraftIO.readBytes(spark, bloomPath))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(keptNull == Seq(5L), s"null-text row dropped: $keptNull")
  }

  test("self-maintaining near-dup ingest: later batches dedup against earlier accepted docs; retries idempotent") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val other = "completely different content about rivers bridges and mountain passes " * 3
    val acc = Files.createTempDirectory("graft-ingest").toString + "/acc"
    def accepted() = spark.read.parquet(s"$acc/data").drop("batch")
      .collect().map(_.getLong(0)).toSet
    // batch 1: two distinct docs accepted
    val n1 = graft.functions.Dedup.nearDupIngestBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", acc, "1")
    assert(n1 == 2 && accepted() == Set(1L, 2L))
    // batch 2: a near-dup of accepted doc 1 drops; a fresh doc and one
    // of an in-batch near-dup pair (lowest id kept) are accepted
    val fresh = "fresh subject matter entirely new words for the second batch here " * 3
    val n2 = graft.functions.Dedup.nearDupIngestBatch(
      Seq((10L, base + "zz"), (11L, fresh), (12L, fresh + "yy"))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "2")
    assert(n2 == 1 && accepted() == Set(1L, 2L, 11L), accepted().toString)
    // batch 3: near-dup of the BATCH-2 acceptee drops — the band table
    // really grew between batches
    val n3 = graft.functions.Dedup.nearDupIngestBatch(
      Seq((20L, fresh + "qq"), (21L, "yet another novel topic about stars " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "3")
    assert(n3 == 1 && accepted() == Set(1L, 2L, 11L, 21L), accepted().toString)
    // a RETRIED batch tag overwrites its own partitions against the
    // PRE-batch state — the completed batch's own output must not make
    // its retry drop everything as self-near-dups
    val n3b = graft.functions.Dedup.nearDupIngestBatch(
      Seq((20L, fresh + "qq"), (21L, "yet another novel topic about stars " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "3")
    assert(n3b == 1 && accepted() == Set(1L, 2L, 11L, 21L), accepted().toString)
    assert(spark.read.parquet(s"$acc/data").drop("batch").count() ==
      accepted().size)
    // partition values are written t-prefixed so type inference keeps
    // them strings — tags like "01" can never canonicalize into "1"
    assert(spark.read.parquet(s"$acc/data").schema("batch").dataType ==
      org.apache.spark.sql.types.StringType)
    // streaming wrapper end-to-end: one file-stream batch through
    // foreachBatch lands in a fresh accepted dir
    val acc2 = Files.createTempDirectory("graft-ingest2").toString + "/acc"
    val srcDir = Files.createTempDirectory("graft-ingest-src").toString + "/in"
    Seq((31L, base), (32L, base + " xx"), (33L, other))
      .toDF("doc_id", "text").write.parquet(srcDir)
    val stream = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .parquet(srcDir)
    val q = graft.functions.Dedup.streamingNearDupIngest(
        stream, "doc_id", "text", acc2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ingest-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$acc2/data").drop("batch")
      .collect().map(_.getLong(0)).toSet
    // 31/32 are near-dups (one survives, lowest id), 33 distinct
    assert(got == Set(31L, 33L), got.toString)
  }

  test("ingest state compaction: O(1) partitions, retry contract intact, no checkpoint leak") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val other = "completely different content about rivers bridges and mountain passes " * 3
    val fresh = "fresh subject matter entirely new words for the second batch here " * 3
    val acc = Files.createTempDirectory("graft-compact").toString + "/acc"
    def accepted() = spark.read.parquet(s"$acc/data").drop("batch")
      .collect().map(_.getLong(0)).toSet
    def tags(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$acc/$sub")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    // the per-batch scope must release every checkpoint pin it creates
    // (signature/candidate/survivor RDDs) — the foreachBatch leak
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", acc, "1")
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((10L, base + "zz"), (11L, fresh)).toDF("doc_id", "text"),
      "doc_id", "text", acc, "2")
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((20L, fresh + "qq"), (21L, "novel topic about stars " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "3")
    val leaked = spark.sparkContext.getPersistentRDDs.filter { case (rid, r) =>
      !before.contains(rid) &&
        r.name == org.apache.spark.sql.graft.Bridge.MaterializedTag
    }
    assert(leaked.isEmpty, s"ingest batches leaked checkpoint RDDs: ${leaked.keys}")
    assert(accepted() == Set(1L, 2L, 11L, 21L))
    val bandRowsBefore = spark.read.parquet(s"$acc/bands").drop("batch")
      .collect().map(_.toString).sorted.toSeq

    // compact batches 1-2, keeping the retryable tag 3
    graft.functions.Dedup.compactNearDupIngestState(spark, acc, "doc_id",
      compactTag = "c1", keepTags = Set("3"))
    assert(tags("data") == Set("batch=tc1", "batch=t3"), tags("data").toString)
    assert(tags("bands") == Set("batch=tc1", "batch=t3"), tags("bands").toString)
    assert(accepted() == Set(1L, 2L, 11L, 21L))
    // band-table content survives compaction bit-identically
    val bandRowsAfter = spark.read.parquet(s"$acc/bands").drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(bandRowsAfter == bandRowsBefore)

    // retry of the kept batch AFTER compaction converges identically
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((20L, fresh + "qq"), (21L, "novel topic about stars " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "3")
    assert(accepted() == Set(1L, 2L, 11L, 21L))

    // the compacted state still dedups: near-dup of a compacted doc drops
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((30L, base + " tail"), (31L, "entirely separate subject once more " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "4")
    assert(accepted() == Set(1L, 2L, 11L, 21L, 31L), accepted().toString)

    // second compaction with a fresh tag folds everything non-kept
    // (including the previous compacted partition) — idempotent shape
    graft.functions.Dedup.compactNearDupIngestState(spark, acc, "doc_id",
      compactTag = "c2", keepTags = Set("4"))
    assert(tags("data") == Set("batch=tc2", "batch=t4"), tags("data").toString)
    assert(accepted() == Set(1L, 2L, 11L, 21L, 31L))

    // crash repair: delete a band partition (the pre-fix data-first
    // crash shape) — the next batch rebuilds it and still drops
    // near-dups of the affected docs
    val bp = new org.apache.hadoop.fs.Path(s"$acc/bands/batch=tc2")
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(bp, true)
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((40L, base + " zz"), (41L, "once again a brand new theme " * 5))
        .toDF("doc_id", "text"),
      "doc_id", "text", acc, "5")
    assert(tags("bands").contains("batch=tc2"), "band partition not rebuilt")
    assert(accepted() == Set(1L, 2L, 11L, 21L, 31L, 41L), accepted().toString)
  }

  test("ingest crash shapes converge: bands dir missing entirely; leftover hidden staging only") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val other = "completely different content about rivers bridges and mountain passes " * 3
    // (a) FIRST-batch retry whose own data partition exists but whose
    // band dir was never created (pre-bands-first crash shape): the
    // retry must converge, not die reading the nonexistent band path
    val acc = Files.createTempDirectory("graft-crash-a").toString + "/acc"
    graft.functions.Dedup.nearDupIngestBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", acc, "1")
    val fs = new org.apache.hadoop.fs.Path(acc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$acc/bands"), true)
    val n = graft.functions.Dedup.nearDupIngestBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", acc, "1")
    assert(n == 2, s"first-batch retry without a bands dir did not converge: $n")
    // a SECOND-tag batch after the same deletion repairs the missing
    // band partition and still drops near-dups of batch-1 docs
    fs.delete(new org.apache.hadoop.fs.Path(s"$acc/bands"), true)
    val n2 = graft.functions.Dedup.nearDupIngestBatch(
      Seq((10L, base + " zz")).toDF("doc_id", "text"),
      "doc_id", "text", acc, "2")
    assert(n2 == 0, "near-dup accepted after bands-dir loss — repair failed")
    // (b) a crashed compaction that merged EVERYTHING can leave the
    // data dir holding ONLY a hidden .compact_* staging — not state;
    // the next batch must treat the ingest as fresh, not crash on
    // schema inference over zero visible files
    val acc2 = Files.createTempDirectory("graft-crash-b").toString + "/acc"
    Seq((1L, base)).toDF("doc_id", "text")
      .write.parquet(s"$acc2/data/.compact_leftover")
    val nb = graft.functions.Dedup.nearDupIngestBatch(
      Seq((5L, other)).toDF("doc_id", "text"),
      "doc_id", "text", acc2, "1")
    assert(nb == 1, s"hidden-staging-only state dir broke the batch: $nb")
  }

  test("batch stateful runningByKey ordered (ClojureStatefulDoFn analog)") {
    val ds = Seq(("a", 2, 10.0), ("a", 1, 1.0), ("b", 1, 5.0)).toDS
    val out = Stateful.runningByKey[String, (String, Int, Double), Double, (String, Int, Double), Int](
      ds, _._1, _._2, 0.0) { (acc, v) => val n = acc + v._3; (n, (v._1, v._2, n)) }
      .collect().toSet
    assert(out == Set(("a", 1, 1.0), ("a", 2, 11.0), ("b", 1, 5.0)))
  }

  test("window options: accumulate (Update) refines late panes, discard (Append) fires finals once") {
    def evs(rows: Seq[(String, Long)]) = rows.toDF("k", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).select($"k", $"ts")
    def agg(df: org.apache.spark.sql.DataFrame) =
      Windows.withLateness(df, "ts", "5 seconds")
        .groupBy(Windows.fixedWindow($"ts", "2 seconds").as("w"), $"k")
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"w.start").as("ws"), $"k", $"n")

    // ---- accumulate ≈ Update: the [0,2) pane fires at n=1, then
    // refires refined at n=2 when the late row lands within lateness
    val dir1 = Files.createTempDirectory("graft-acc").toString + "/data"
    evs(Seq(("a", 1L))).write.parquet(dir1)
    val s1 = spark.readStream.schema(spark.read.parquet(dir1).schema).parquet(dir1)
    val q1 = Windows.withWindowOptions(
        agg(s1).writeStream.format("memory").queryName("acc_out"),
        accumulateMode = "accumulate",
        trigger = Windows.triggerOf("processing-time", "0 seconds")).start()
    try {
      q1.processAllAvailable()
      evs(Seq(("a", 1L), ("a", 30L))).write.mode("append").parquet(dir1)
      q1.processAllAvailable()
      val panes = spark.table("acc_out").where($"ws" === 0)
        .select($"n").collect().map(_.getLong(0)).toSet
      assert(panes == Set(1L, 2L), s"expected refinement firings, got $panes")
    } finally q1.stop()

    // ---- discard ≈ Append: one final firing per watermark-closed
    // window, late row folded into the single final pane
    val dir2 = Files.createTempDirectory("graft-disc").toString + "/data"
    evs(Seq(("a", 1L), ("a", 1L), ("a", 30L))).write.parquet(dir2)
    val s2 = spark.readStream.schema(spark.read.parquet(dir2).schema).parquet(dir2)
    val q2 = Windows.withWindowOptions(
        agg(s2).writeStream.format("memory").queryName("disc_out"),
        accumulateMode = "discard",
        trigger = Windows.triggerOf("available-now")).start()
    try {
      q2.awaitTermination()
      val rows = spark.table("disc_out").select($"ws", $"n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // [0,2) closed by wm=25: exactly one firing, with both rows;
      // [30,32) still open: not emitted
      assert(rows == Seq((0L, 2L)))
    } finally q2.stop()
  }

  test("statefulFlatMap event-time timeout emits on state expiry (ClojureStatefulDoFn.java:14-42)") {
    val dir = Files.createTempDirectory("graft-ett").toString + "/data"
    Seq(("a", 1L)).toDF("k", "sec").withColumn("ts", timestamp_seconds($"sec"))
      .select($"k", $"ts").write.parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
      .withWatermark("ts", "0 seconds")
      .as[(String, java.sql.Timestamp)]
    val out = Stateful.statefulFlatMap[String, (String, java.sql.Timestamp), Long, (String, Long)](
      stream, _._1, OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (k, it, st) =>
        if (st.hasTimedOut) {
          val n = st.get; st.remove()
          Iterator((k, n)) // flush the expired key's state downstream
        } else {
          val vs = it.toSeq
          st.update(st.getOption.getOrElse(0L) + vs.size)
          // expire 1s of event time after the key's latest event
          st.setTimeoutTimestamp(vs.map(_._2.getTime).max + 1000L)
          Iterator.empty
        }
    }
    val q = out.toDF("k", "n").writeStream.outputMode("append")
      .format("memory").queryName("ett_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ett_out").isEmpty) // watermark still at 1s: no expiry
      // a 10s event pushes the watermark past the 2s timeout → "a" expires
      Seq(("b", 10L)).toDF("k", "sec").withColumn("ts", timestamp_seconds($"sec"))
        .select($"k", $"ts").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val rows = spark.table("ett_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("a", 1L)))
    } finally q.stop()
  }

  test("running-state forms agree: group-sort, external-sort, window aggregate") {
    val data = Seq(("a", 2, 10.0), ("a", 1, 1.0), ("b", 1, 5.0), ("a", 3, 2.5), ("b", 2, -1.0))
    val ds = data.toDS
    def step(acc: Double, v: (String, Int, Double)) = {
      val n = acc + v._3; (n, (v._1, v._2, n))
    }
    val typed = Stateful.runningByKey[String, (String, Int, Double), Double, (String, Int, Double), Int](
      ds, _._1, _._2, 0.0)(step).collect().toSet
    val sorted = Stateful.runningByKeySorted[String, (String, Int, Double), Double, (String, Int, Double), Int](
      ds, _._1, _._2, 0.0)(step).collect().toSet
    val windowed = Stateful.runningAgg(ds.toDF("k", "i", "v"),
        Seq($"k"), Seq($"i"), sum($"v"), "run")
      .select($"k", $"i", $"run")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(sorted == typed)
    assert(windowed == typed)
  }
}

/** Stream-stream joins — Beam's windowed CoGroupByKey join shape
  * (SURVEY §2.5): two watermarked streams joined on key + event-time
  * bound; Spark buffers both sides in watermark-bounded state. */
class StreamJoinSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("stream-static join: streaming side input enrichment (broadcast dim)") {
    val dir = Files.createTempDirectory("graft-ssd").toString
    Seq(("u1", 1.0), ("u2", 2.0)).toDF("k", "v").write.parquet(dir + "/facts")
    val dim = Seq(("u1", "gold"), ("u2", "silver")).toDF("k", "tier")
    val stream = spark.readStream
      .schema(spark.read.parquet(dir + "/facts").schema).parquet(dir + "/facts")
    val q = stream.join(org.apache.spark.sql.functions.broadcast(dim), "k")
      .writeStream.outputMode("append").format("memory").queryName("ssd_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ssd_out").collect()
        .map(r => (r.getString(0), r.getString(2))).toSet
      assert(rows == Set(("u1", "gold"), ("u2", "silver")))
    } finally q.stop()
  }

  test("stream-stream inner join with watermark + time-range bound") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    Seq(("u1", 10, "imp1"), ("u2", 20, "imp2"), ("u3", 30, "imp3"))
      .toDF("k", "sec", "imp")
      .withColumn("imp_ts", timestamp_seconds($"sec")).drop("sec")
      .write.parquet(dir + "/imps")
    // u1 clicks 5s after the impression (in bound), u2 clicks 400s
    // later (outside the 60s bound), u3 never clicks
    Seq(("u1", 15, "c1"), ("u2", 420, "c2"))
      .toDF("k", "sec", "clk")
      .withColumn("clk_ts", timestamp_seconds($"sec")).drop("sec")
      .write.parquet(dir + "/clicks")
    val imps = spark.readStream
      .schema(spark.read.parquet(dir + "/imps").schema).parquet(dir + "/imps")
      .withWatermark("imp_ts", "10 minutes")
    val clicks = spark.readStream
      .schema(spark.read.parquet(dir + "/clicks").schema).parquet(dir + "/clicks")
      .withWatermark("clk_ts", "10 minutes")
    val joined = imps.alias("i").join(clicks.alias("c"),
      expr("""i.k = c.k AND
              clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 60 seconds"""))
    val q = joined.selectExpr("i.k AS k", "imp", "clk")
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows == Set(("u1", "imp1", "c1")))
    } finally q.stop()
  }

  test("file-watch pacing: maxFilesPerTrigger bounds each micro-batch (core.clj:1207-1217)") {
    val dir = Files.createTempDirectory("graft-watch").toString + "/watch"
    new java.io.File(dir).mkdirs()
    for (i <- 1 to 3)
      Files.writeString(java.nio.file.Paths.get(dir, s"f$i.txt"), s"line$i\n")
    val paced = graft.streaming.Sources.watchTextFiles(spark, dir,
      maxFilesPerTrigger = Some(1))
    val q = paced.writeStream.format("memory").queryName("paced_watch")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(spark.table("paced_watch").count() == 3)
      // the backlog drains as 3 one-file batches, not one catch-up batch
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        q.recentProgress.map(_.numInputRows).mkString("batches: ", ",", ""))
    } finally if (q.isActive) q.stop()
  }

  test("file-watch batch of many files starts no listing job in a local session") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobGroups.add)
    }
    // directories of 20 and 40 copies of one small parquet file
    val src = spark.range(0, 8, 1, 1).selectExpr("id % 4 AS k", "id AS v")
    val root = Files.createTempDirectory("graft-watch-many")
    src.write.parquet(root.resolve("src").toString)
    val file = Files.list(root.resolve("src")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    def copies(n: Int) = {
      val dir = Files.createDirectory(root.resolve(s"in$n"))
      for (i <- 0 until n) Files.copy(file, dir.resolve(f"f$i%02d.parquet"))
      dir
    }
    val (dir20, dir40) = (copies(20), copies(40))
    // the jobs of one micro-batch over every file of `dir`; a stream's
    // jobs carry its run id as their job group
    def batch(dir: java.nio.file.Path, name: String): Int = {
      val q = graft.streaming.Sources.watchParquet(spark, dir.toString, src.schema)
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      jobGroups.toArray.count(_ == q.runId.toString)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val few = batch(dir20, "watch_many_20")
      val many = batch(dir40, "watch_many_40")
      assert(few > 0 && many == few, s"20 files: $few jobs, 40 files: $many jobs")
      def agg(df: DataFrame) = df.groupBy($"k").agg(count(lit(1)), sum($"v"))
        .as[(Long, Long, Long)].collect().toSet
      assert(agg(spark.table("watch_many_40")) ==
        agg(spark.read.schema(src.schema).parquet(dir40.toString)))
      // Spark's default threshold (copied into the stream at start)
      // brings the per-batch listing job back
      val listed = TestSpark.withConf(GraftSession.ListingThresholdKey, "32") {
        batch(dir40, "watch_many_40_listed")
      }
      assert(listed > few, s"40 files listed by a job: $listed jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("runFor: terminate-after wall-clock budget stops an unbounded watch (core.clj:1207-1217)") {
    val dir = Files.createTempDirectory("graft-watch").toString + "/watch_budget"
    new java.io.File(dir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), "x\n")
    val q = graft.streaming.Sources.watchTextFiles(spark, dir)
      .writeStream.format("memory").queryName("watch_budget")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    q.processAllAvailable() // first batch is in before the budget starts
    val selfTerminated = graft.streaming.Sources.runFor(q, 1500)
    assert(!selfTerminated) // a continuous-trigger watch never self-terminates
    assert(!q.isActive)
    assert(spark.table("watch_budget").count() == 1)
  }
}
