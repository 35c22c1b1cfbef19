package graft.tools

/** Dev tool: measure the Bench calibration query (the fixed
  * data-independent `bit_xor(xxhash64(id))` over a 6e9-row range —
  * graft.BenchCalibration, the single shared definition) a few times
  * on THIS box, to (re)establish the clean-box reference used by
  * README's "Bench noise" decision rule. Run on an idle machine. */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    def loadAvg1m(): Double = graft.BenchCalibration.loadAvg1m()
    def calibrate(): Double = graft.BenchCalibration.calibrate(spark)
    val n = if (args.nonEmpty) args(0).toInt else 5
    println(s"loadavg(1m)=${loadAvg1m()}")
    val times = (1 to n).map { i =>
      val t = calibrate(); println(f"calib[$i] = $t%.3f s"); t
    }
    println(f"min=${times.min}%.3f median=${times.sorted.apply(n / 2)}%.3f " +
      f"loadavg_end=${loadAvg1m()}")
    spark.stop()
  }
}
