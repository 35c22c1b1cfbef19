package flowbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.functions.Dedup
import graft.sources.GraftIO
import graft.streaming.{Sources, Windows}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case None | null => "null"
    case Some(x) => value(x)
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Benchmark harness, started by run.py in a fresh JVM per run.
  *
  * Modes:
  *  - `setup`: build the session and load the query registry, report the
  *    time from JVM start, exit;
  *  - `batch`: one cold pass, untimed warm-up passes and a fixed number
  *    of warm passes over a list of registry pipelines, each built by its
  *    `SparkEntry.queries` builder and written through
  *    `GraftIO.writeParquet`;
  *  - `stream`: `Sources.watchParquet` -> `Windows.withLateness` ->
  *    windowed aggregation -> `Sources.windowedFileSink`, fed from
  *    pre-generated event files: a cold drain, untimed warm-up drains
  *    and a fixed number of warm drains of the same backlog size, and an
  *    open-loop phase at a fixed file rate.
  *
  * Raw timings and counters go to `--result` as JSON; run.py turns them
  * into metrics and checks outputs against DuckDB.
  */
object Harness {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
    def traced: Boolean = apply("trace") == "1"
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = graft.BenchCalibration.loadAvg1m()
    val t0 = System.nanoTime()
    val cpus = o.int("cpus")
    val spark = GraftSession.build(GraftSession.Config(
      appName = "flowbench", master = s"local[$cpus]", shufflePartitions = cpus,
      extraConf = Map(
        "spark.local.dir" -> s"${o("work")}/spark-local",
        "spark.sql.warehouse.dir" -> s"${o("work")}/warehouse",
        "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
        // one session runs every pipeline of a pass: the default 100
        // entries cannot hold a pass's generated classes, so every warm
        // pass would compile them again and the JIT compile the new classes
        "spark.sql.codegen.cache.maxEntries" -> "2000")))
    val registry = SparkEntry.queries
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val head = Seq("setup_s" -> setupS, "session_build_s" -> sessionBuildS, "cpus" -> cpus)
    val body: Seq[(String, Any)] = o("mode") match {
      case "setup" => Nil
      case "batch" => batch(spark, o, registry)
      case "stream" => stream(spark, o)
    }
    val out = Json.obj(head ++ body ++ Seq("peak_rss_mb" -> vmHwmMb(), "peak_live_mb" -> peakLiveMb,
      "live_samples_mb" -> liveSamples.toSeq,
      "load_start" -> loadStart, "load_end" -> graft.BenchCalibration.loadAvg1m()))
    Files.writeString(Paths.get(o("result")), out + "\n")
    // the run's work directory, spark-local included, is deleted by
    // run.py; skipping Spark's orderly shutdown saves a second per JVM
    Runtime.getRuntime.halt(0)
  }

  private var peakLiveMb = 0.0
  private val liveSamples = mutable.ArrayBuffer.empty[Seq[Double]]

  /** Heap left after a full collection plus non-heap memory (metaspace,
    * code cache), in MB; the largest such reading is the run's peak live
    * memory: what the session keeps between passes. Each reading's heap
    * and non-heap parts are kept for the details line. Called only
    * between timed windows, when no Spark work is running. */
  def sampleLive(spark: SparkSession): Unit = {
    collect(spark)
    val m = ManagementFactory.getMemoryMXBean
    val heap = m.getHeapMemoryUsage.getUsed / 1048576.0
    val nonHeap = m.getNonHeapMemoryUsage.getUsed / 1048576.0
    liveSamples += Seq(heap, nonHeap)
    peakLiveMb = math.max(peakLiveMb, heap + nonHeap)
  }

  /** Full collection between timed windows. Events still queued for the
    * listeners hold plans and metrics, and objects the context cleaner has
    * yet to release are still reachable after one collection; both are
    * let settle, so that what is left is what the session keeps. */
  def collect(spark: SparkSession): Unit = {
    org.apache.spark.flowbench.ListenerBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** Time the JIT compilers have spent compiling since JVM start, in ms
    * (summed over compiler threads). */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def tracerFor(spark: SparkSession, o: Opts): Option[Tracer] =
    if (o.traced) Some(new Tracer(spark)) else None

  // ------------------------------------------------------------ batch
  private def batch(spark: SparkSession, o: Opts,
                    registry: Map[String, (SparkSession, String) => DataFrame]): Seq[(String, Any)] = {
    val names = o("pipelines").split(",").toSeq
    val data = o("data")
    val outDir = o("out")
    val tracer = tracerFor(spark, o)
    val sc = spark.sparkContext
    Files.writeString(Paths.get(o("work"), "oracle_sql.json"),
      Json.obj(names.map(n => n -> SparkEntry.oracleSql(n))) + "\n")

    /** One pass over every pipeline; traced passes record spans. */
    def runPass(p: Int, traced: Boolean): Map[String, Any] = {
      val tr = tracer.filter(_ => traced)
      tr.foreach { t => t.attach(); t.startPass(p) }
      val passSpan = tr.map(_.begin(s"pass:$p", -1)).getOrElse(-1)
      val jit0 = jitMs()
      val t0 = System.nanoTime()
      val rows = names.map { n =>
        val pipeSpan = tr.map(_.begin(s"pipeline:$n", passSpan)).getOrElse(-1)
        var error: Option[String] = None
        val a = System.nanoTime()
        val buildSpan = tr.map(_.begin("build", pipeSpan)).getOrElse(-1)
        sc.setJobGroup(s"fb:$p:$buildSpan", s"$n build")
        val df = try Some(registry(n)(spark, data)) catch {
          case e: Throwable => error = Some(s"build: $e"); None
        }
        tr.foreach(_.end(buildSpan))
        val b = System.nanoTime()
        // analysis ran while the builder made the DataFrame, outside any
        // action the execution listener sees
        for (t <- tr; d <- df) t.passStats(p).add("plan.analysis_s",
          d.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1000.0).getOrElse(0.0))
        val execSpan = tr.map(_.begin("exec", pipeSpan)).getOrElse(-1)
        sc.setJobGroup(s"fb:$p:$execSpan", s"$n exec")
        df.foreach { d =>
          try GraftIO.writeParquet(d, s"$outDir/$n") catch {
            case e: Throwable => error = Some(s"exec: $e")
          }
        }
        tr.foreach(_.end(execSpan))
        val c = System.nanoTime()
        tr.foreach(_.end(pipeSpan))
        sc.clearJobGroup()
        error.foreach(e => System.err.println(s"[flowbench] pass $p $n failed: $e"))
        Map("name" -> n, "build_s" -> (b - a) / 1e9, "exec_s" -> (c - b) / 1e9,
          "error" -> error)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val jitS = (jitMs() - jit0) / 1000.0
      val extra = tr.map { t =>
        t.end(passSpan)
        val st = t.endPass(p)
        t.detach()
        Map("stats" -> st.n.toMap) ++ selfTimes(t, passSpan)
      }.getOrElse(Map.empty)
      // outside the timed pass: drop the checkpoint blocks the dedup and
      // graph pipelines pinned, so every pass starts from the same memory.
      // Live memory is sampled after that: with the blocks still held, the
      // reading depended on how far Spark's asynchronous cleaner had got
      Dedup.releaseMaterialized(spark, blocking = true)
      sampleLive(spark)
      Map("pass" -> p, "traced" -> traced, "wall_s" -> wall, "jit_s" -> jitS,
        "pipelines" -> rows) ++ extra
    }

    val passes = mutable.ArrayBuffer(runPass(0, traced = tracer.isDefined) + ("kind" -> "cold"))
    // untimed warm-up passes let the JIT settle before warm passes are timed
    val first = 1 + o.int("warmup")
    (1 until first).foreach(p => passes += runPass(p, traced = false) + ("kind" -> "warmup"))
    // a fixed number of warm passes, so that the sample count does not
    // depend on how fast the program is; a traced run interleaves
    // untraced and traced passes in ABBA order (untraced, traced, traced,
    // untraced) so that both kinds sit at the same mean position in the run
    (first until first + o.int("warm")).foreach { p =>
      passes += runPass(p, traced = tracer.isDefined && (p - first) % 4 % 3 != 0) + ("kind" -> "warm")
    }
    tracer.foreach(t => Files.writeString(Paths.get(o("work"), "spans.jsonl"), t.spansJson + "\n"))
    Seq("passes" -> passes.toSeq)
  }

  /** Self time of the pass, and summed self time of its build and exec
    * spans (time not covered by Spark jobs: driver-side construction and
    * planning), in seconds. */
  private def selfTimes(t: Tracer, passSpan: Int): Map[String, Any] = {
    val kids = t.spans.filter(_.parent == passSpan).map(_.id).toSet
    val phases = t.spans.filter(s => kids.contains(s.parent))
    def sum(name: String) = phases.filter(_.name == name).map(t.selfMs).sum / 1000.0
    val passS = t.spans.find(_.id == passSpan).map(t.selfMs).getOrElse(0.0) / 1000.0
    val buildJobs = phases.filter(_.name == "build").map(b =>
      t.spans.count(s => s.parent == b.id && s.name.startsWith("job:"))).sum
    Map("self" -> Map("pass.self_s" -> passS, "build.self_s" -> sum("build"),
      "exec.self_s" -> sum("exec"), "build.jobs" -> buildJobs))
  }

  // ----------------------------------------------------------- stream
  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Progress of every micro-batch, as reported by the stream itself. */
  private final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    @volatile var rows = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      batches += e.progress
      rows += e.progress.numInputRows
    }
    def startMs(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    def commitMs(p: StreamingQueryProgress): Double =
      startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
    /** Start of the first batch after the first `from` that read rows. */
    def firstDataStartMs(from: Int): Double = synchronized {
      batches.drop(from).find(_.numInputRows > 0).map(startMs).get
    }
    /** The batch after which `target` rows were consumed. */
    def reaching(target: Long): StreamingQueryProgress = synchronized {
      var acc = 0L
      batches.find { b => acc += b.numInputRows; acc >= target }.get
    }
    def reachedMs(target: Long): Double = commitMs(reaching(target))
    def awaitRows(target: Long, timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (rows < target) {
        if (System.nanoTime() > deadline) sys.error(s"stream stalled at $rows of $target rows")
        Thread.sleep(2)
      }
    }
  }

  private def stream(spark: SparkSession, o: Opts): Seq[(String, Any)] = {
    val staging = new File(o("data"))
    val watch = new File(o("work"), "watch"); watch.mkdirs()
    val rowsPerFile = o.int("rows_per_file")
    val backlog = o.int("backlog")
    // drain 0 is cold, drains 1 until `first` warm-up, then `warm` timed
    val first = 1 + o.int("warmup")
    val warm = o.int("warm")
    val openFiles = o.int("open_files")
    val rate = o.dbl("rate")
    val files = staging.listFiles().map(_.getName).filter(_.startsWith("ev-")).sorted
    require(files.length >= backlog * (first + warm) + openFiles, "too few event files")
    val tracer = tracerFor(spark, o)
    val progress = new Progress
    spark.streams.addListener(progress)
    var fed = 0

    /** Move files into `dir` (a directory or, when `atOnce`, a
      * subdirectory that appears in the watched directory with one atomic
      * rename, so that a trigger never sees half a backlog). Modification
      * times are set before any move, in feed order, so the source takes
      * files oldest first and no in-order row is ever late. */
    def feed(names: Seq[String], dir: File, atOnce: Boolean): Unit = {
      val base = System.currentTimeMillis()
      val into = if (atOnce) new File(staging, "." + dir.getName) else dir
      into.mkdirs()
      names.zipWithIndex.foreach { case (n, i) =>
        val f = new File(staging, n)
        f.setLastModified(base + i)
        Files.move(f.toPath, new File(into, n).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      if (atOnce) Files.move(into.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    def feedNext(k: Int): Long = {
      feed(files.slice(fed, fed + k).toIndexedSeq, new File(watch, s"backlog-$fed"), atOnce = true)
      fed += k
      fed.toLong * rowsPerFile
    }

    var query: org.apache.spark.sql.streaming.StreamingQuery = null

    /** Stage one backlog and time its drain: a cold drain from the start
      * of the query, a warm one from the start of the first micro-batch
      * that reads it (the wait for the next trigger is not the stream's
      * work), both to the commit of the batch that reads its last file. */
    def drain(p: Int, kind: String, start: => Unit): Map[String, Any] = {
      val tr = tracer.filter(_ => p == 0 || (p >= first && (p - first) % 4 % 3 != 0))
      tr.foreach { t => t.attach(); t.startPass(p) }
      val before = progress.synchronized(progress.batches.size)
      val target = feedNext(backlog)
      val started = Clock.nowMs()
      start
      progress.awaitRows(target, 120)
      val t0 = if (kind == "cold") started else progress.firstDataStartMs(before)
      val t1 = progress.reachedMs(target)
      val stats = tr.map { t =>
        val s = t.endPass(p); t.detach(); s.n.toMap
      }
      val batches = progress.synchronized(progress.batches.size) - before
      // no live reading here: the batch that evicts the drained windows
      // may be running, and its objects would be counted
      collect(spark)
      Map("pass" -> p, "kind" -> kind, "traced" -> tr.isDefined,
        "wall_s" -> (t1 - t0) / 1000.0, "first_batch" -> before, "batches" -> batches) ++
        stats.map(s => Map("stats" -> s)).getOrElse(Map.empty)
    }

    val src = Sources.watchParquet(spark, s"${watch.getPath}/*", eventSchema,
      Some(o.int("max_files")))
    val agg = Windows.withLateness(src, "ts", "2 minutes")
      .groupBy(Windows.fixedWindow(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(round(col("value") * 100).cast("long")).as("cents"))
    // a processing-time trigger fixes the batch cadence of the open
    // loop; with the default trigger a slower batch gathers more files and
    // the next one slows in turn, which made latency vary between runs
    val drains = mutable.ArrayBuffer(drain(0, "cold", {
      query = Windows.withWindowOptions(
        Sources.windowedFileSink(agg, o("out"), o("work") + "/checkpoint"),
        trigger = Windows.triggerOf("processing-time", "1 second")).start()
    }))
    (1 until first).foreach(p => drains += drain(p, "warmup", ()))
    (first until first + warm).foreach(p => drains += drain(p, "warm", ()))

    // open loop: one generator thread moves file i in at t0 + i / rate,
    // whether or not the stream has kept up
    val openStart = fed
    val openDir = new File(watch, "open")
    openDir.mkdirs()
    val openBase = progress.rows
    val due = Array.tabulate(openFiles)(i => i * 1000.0 / rate)
    val moved = new Array[Double](openFiles)
    val backlogAtDue = new Array[Long](openFiles)
    val batchesBefore = progress.synchronized(progress.batches.size)
    val t0 = Clock.nowMs() + 50
    val gen = new Thread(() => {
      for (i <- 0 until openFiles) {
        val wait = t0 + due(i) - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        backlogAtDue(i) = i - (progress.rows - openBase) / rowsPerFile
        feed(Seq(files(openStart + i)), openDir, atOnce = false)
        moved(i) = Clock.nowMs()
      }
    }, "flowbench-generator")
    gen.start(); gen.join()
    fed += openFiles
    progress.awaitRows(fed.toLong * rowsPerFile, 120)
    // per-file latency: due time to the commit of the batch that took it;
    // the part of it spent before that batch started (waiting for the
    // next trigger tick, or for the batch before to finish) is its wait
    val consumers = (0 until openFiles).map(i =>
      progress.reaching(openBase + (i + 1).toLong * rowsPerFile))
    val latencies = consumers.indices.map(i =>
      (progress.commitMs(consumers(i)) - (t0 + due(i))) / 1000.0)
    val waits = consumers.indices.map(i =>
      (progress.startMs(consumers(i)) - (t0 + due(i))) / 1000.0)
    val lagMaxS = (0 until openFiles).map(i => moved(i) - (t0 + due(i))).max / 1000.0
    val openBatches = progress.synchronized(progress.batches.size) - batchesBefore

    // planted late rows and a far-future sentinel in one batch: the late
    // rows meet the watermark the stream has already reached, and the
    // sentinel then moves it past every window, so the following no-data
    // batch flushes them all
    val lateRows = o.int("late_rows").toLong
    feed(Seq("late.parquet", "sentinel.parquet"), new File(watch, "last"), atOnce = true)
    progress.awaitRows(fed.toLong * rowsPerFile + lateRows + 1, 120)
    query.processAllAvailable()
    query.stop()
    sampleLive(spark)
    spark.streams.removeListener(progress)

    val all = progress.synchronized(progress.batches.toList)
    val dropped = all.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    def batchJson(b: StreamingQueryProgress): Map[String, Any] = {
      val d = b.durationMs
      def ms(k: String) = d.getOrDefault(k, 0L).toDouble / 1000.0
      val st = b.stateOperators.headOption
      Map("id" -> b.batchId, "rows" -> b.numInputRows, "trigger_s" -> ms("triggerExecution"), "latest_offset_s" -> ms("latestOffset"),
        "get_batch_s" -> ms("getBatch"), "planning_s" -> ms("queryPlanning"),
        "add_batch_s" -> ms("addBatch"), "wal_commit_s" -> ms("walCommit"),
        "commit_offsets_s" -> ms("commitOffsets"),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L))
    }
    tracer.foreach { t =>
      all.foreach { b =>
        val s = progress.startMs(b)
        val id = t.addSpan(-1, s"batch:${b.batchId}", s, s + b.durationMs.getOrDefault("triggerExecution", 0L))
        var at = s
        // children in the order a micro-batch runs them
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val len = b.durationMs.getOrDefault(k, 0L).toDouble
            if (len > 0) { t.addSpan(id, k, at, at + len); at += len }
          }
      }
      Files.writeString(Paths.get(o("work"), "spans.jsonl"), t.spansJson + "\n")
    }
    Seq("passes" -> drains.toSeq,
      "open" -> Map("files" -> openFiles, "rate" -> rate, "latencies_s" -> latencies, "waits_s" -> waits,
        "lag_max_s" -> lagMaxS, "backlog_at_due" -> backlogAtDue.toSeq,
        "first_batch" -> batchesBefore, "batches" -> openBatches),
      "late_rows" -> lateRows, "late_rows_dropped" -> dropped,
      "batches" -> all.map(batchJson))
  }
}
