package graft

/** One-shot host-window probe: [[Bench.calibOnce]], the blended
  * calibration job Bench brackets its timed passes with, run 3× after an
  * untimed JIT warm pass and printed as one JSON line.
  * `tools/quiet_pin_loop.py` polls this to find a genuinely quiet host
  * window before re-pinning the DuckDB comparator (BASELINE.md
  * "Host-speed calibration": quiet ≈ 0.69–0.80 on this host, ≥0.85 =
  * warm, bench reads high; the cheap no-JVM DuckDB probe in
  * tools/host_probe.py did NOT discriminate windows — only this JVM
  * calib does). Dev main — not part of the library surface.
  */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.arm(GraftSession.builder()
      .master(s"local[${Bench.CalibPinCores}]")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    Bench.calibOnce(spark, sfDir) // JIT warm, untimed
    val xs = Seq.fill(3)(Bench.calibOnce(spark, sfDir))
    val json = xs.map(x => f"$x%.3f")
      .mkString("{\"metric\":\"calib\",\"calib_secs\":[", ",",
        f"],\"min\":${xs.min}%.3f}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_CALIB_OUT", "/tmp/calib_probe.json")),
      json + "\n")
    println(json)
    spark.stop()
  }
}
