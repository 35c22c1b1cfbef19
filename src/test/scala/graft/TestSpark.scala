package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (the TestPipeline
  * analog, reference testing.clj:24-28). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(GraftSession.Config(
    appName = "graft-test", master = "local[4]", shufflePartitions = 4))

  /** `body` run with the session's SQL conf `key` set to `value`. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

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
