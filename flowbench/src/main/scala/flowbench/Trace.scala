package flowbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for a root span. Times are epoch
  * milliseconds, the clock Spark stamps its listener events with. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Work counted in one pass (batch workloads) or one drain (stream). */
final class PassStats {
  val n: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = n(k) += v
  def max(k: String, v: Double): Unit = n(k) = math.max(n(k), v)
  // codegen counters are process-wide totals; a pass reports the change
  var compileNsAtStart = 0L
  var compilesAtStart = 0L
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Everything the traced run observes from outside graft: spans the
  * harness opens around calls into graft, Spark scheduler and task
  * events, executed plans and planning phases, and codegen counters.
  * Jobs are tied to harness spans through the job group the harness
  * sets before each call (`fb:<pass>:<span id>`); events without such a
  * group (streaming micro-batches) go to the pass that is open. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Map.empty[Int, (Int, String, Double)]
  private var nextId = 0
  val stats = mutable.Map.empty[Int, PassStats]
  @volatile var pass: Int = -1
  private val stagePass = mutable.Map.empty[Int, Int]
  private val jobOpen = mutable.Map.empty[Int, (Int, Double)]
  private val blocks = mutable.Map.empty[String, Long]
  private var materialized = 0L
  private var attached = false

  def passStats(p: Int): PassStats = synchronized(stats.getOrElseUpdate(p, new PassStats))

  def begin(name: String, parent: Int): Int = synchronized {
    val id = nextId; nextId += 1
    open(id) = (parent, name, Clock.nowMs())
    id
  }

  def end(id: Int): Span = synchronized {
    val (parent, name, start) = open.remove(id).get
    val s = Span(id, parent, name, start, Clock.nowMs())
    spans += s
    s
  }

  def addSpan(parent: Int, name: String, startMs: Double, endMs: Double): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, startMs, endMs)
    id
  }

  def startPass(p: Int): Unit = {
    pass = p
    val s = passStats(p)
    s.compileNsAtStart = CodeGenerator.compileTime
    s.compilesAtStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    synchronized(s.max("materialized.bytes_peak", materialized.toDouble))
  }

  /** Wait for the listener bus, then close the pass's counters. */
  def endPass(p: Int): PassStats = {
    org.apache.spark.flowbench.ListenerBus.drain(sc)
    val s = passStats(p)
    s.add("codegen.compile_s", (CodeGenerator.compileTime - s.compileNsAtStart) / 1e9)
    s.add("codegen.compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - s.compilesAtStart).toDouble)
    s
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); spark.listenerManager.register(this); attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.flowbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this); attached = false
  }

  private def groupOf(props: java.util.Properties): Option[(Int, Int)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("fb:") =>
        val Array(_, p, s) = g.split(":"); (p.toInt, s.toInt)
      }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (p, span) = groupOf(e.properties).getOrElse((pass, -1))
    e.stageIds.foreach(stagePass(_) = p)
    jobOpen(e.jobId) = (span, e.time.toDouble)
    passStats(p).add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (span, start) =>
      addSpan(span, s"job:${e.jobId}", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    passStats(stagePass.getOrElse(e.stageInfo.stageId, pass)).add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = passStats(stagePass.getOrElse(e.stageId, pass))
      s.add("sched.tasks", 1)
      s.add("task.run_s", m.executorRunTime / 1000.0)
      s.add("task.cpu_s", m.executorCpuTime / 1e9)
      s.add("task.gc_s", m.jvmGCTime / 1000.0)
      s.max("task.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      s.add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      s.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("sink.rows", m.outputMetrics.recordsWritten.toDouble)
      s.add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
      s.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      s.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  /** Materialized (persisted or checkpointed) RDD blocks held at once. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      materialized += now - blocks.getOrElse(info.blockId.name, 0L)
      if (now == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = now
      passStats(pass).max("materialized.bytes_peak", materialized.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val s = passStats(pass)
    def phase(k: String) = qe.tracker.phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    s.add("plan.analysis_s", phase("analysis"))
    s.add("plan.optimization_s", phase("optimization"))
    s.add("plan.planning_s", phase("planning"))
    val plan = qe.executedPlan
    s.add("plan.exchanges", collect(plan) { case x: ShuffleExchangeLike => x }.size.toDouble)
    s.add("plan.broadcasts", collect(plan) { case x: BroadcastExchangeLike => x }.size.toDouble)
    s.add("scan.time_s", collect(plan) { case x: DataSourceScanExec =>
      x.metrics.get("scanTime").map(_.value).getOrElse(0L) }.sum / 1000.0)
    s.add("sink.commit_s", collect(plan) { case x: DataWritingCommandExec =>
      x.cmd.metrics.get("jobCommitTime").map(_.value).getOrElse(0L) }.sum / 1000.0)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Duration of `s` not covered by its children. */
  def selfMs(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var reach = s.startMs
    kids.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (s.endMs - s.startMs) - covered
  }

  def spansJson: String = synchronized {
    spans.map(s => Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("\n")
  }
}
