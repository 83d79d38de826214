package graft.tools

/** Measures graft.Bench's calibration workload on THIS machine:
  *
  *   sbt "runMain graft.tools.CalibrationProbe"
  *
  * Prints N probe runs plus their min. CAVEAT (learned round 18): this
  * standalone probe reads ~40% SLOWER than the same workload measured
  * mid-bench (0.46 s vs 0.32 s on the same idle box at cpus=32) — a
  * fresh JVM's JIT warmth is shallower than a bench pass's, and the
  * calibration is consumed mid-bench. So the probe is a quick sanity
  * check and a relative-machine-speed read; the authoritative pin for
  * `Bench.CalibrationRefSec` is the min warm-pass `calibration_sec`
  * across idle-day bench runs at the driver's SPARK_GRAFT_CPUS=32
  * (both stamped on every BENCH_DETAIL line). If the calibration
  * WORKLOAD in Bench.calibrationOnce ever changes, re-derive the pin
  * that way; nothing else should move it (it is a unit, not a target).
  */
object CalibrationProbe {
  def main(args: Array[String]): Unit = {
    // the pin must be measured at the worker count the bench runs with
    // (SPARK_GRAFT_CPUS=32 for the recorded Bench.CalibrationRefSec)
    val runs = args.headOption.map(_.toInt).getOrElse(7)
    val spark = graft.Session.local(logLevel = "ERROR")
    // one unmeasured warmup run (codegen compile)
    graft.Bench.calibrationProbeOnce(spark)
    val times = (1 to runs).map { i =>
      val t = graft.Bench.calibrationProbeOnce(spark)
      println(f"[calib] run $i: $t%.3f s")
      t
    }
    println(f"[calib] min of $runs: ${times.min}%.3f s  " +
      f"(pinned Bench.CalibrationRefSec = ${graft.Bench.CalibrationRefSec}%.3f)")
    spark.stop()
  }
}
