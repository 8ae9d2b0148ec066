package graft

/** Dev smoke (test scope): the driver's flagship contract —
  * SparkEntry.entry(spark) at sf0.001 must return rows > 0.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.arm(GraftSession.builder().master("local[8]")
      .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
