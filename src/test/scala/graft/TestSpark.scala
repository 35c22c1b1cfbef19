package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (the TestPipeline
  * analog, reference testing.clj:24-28). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  /** `body`'s result and the number of Spark jobs it started (jobs of
    * other threads, such as a stream left running, are not counted). */
  def jobsStarted[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-started-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "jobsStarted")
    try {
      val out = body
      org.apache.spark.graft.ListenerDrain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
