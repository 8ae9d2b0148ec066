package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The "bounded collect, else distributed" decision of every report tail.
  * A report whose input is bounded by design (a histogram grid, a duration
  * grid, a pruned co-occurrence graph, a dup graph) is cheaper to finish in
  * driver arrays than through a chain of single-task jobs; past its bound
  * the same report runs its distributed tail. Each site keeps its own row
  * limit (they bound different things); ONE session conf key caps them all.
  * Unset, every site runs at its own limit; a positive value caps every
  * limit; a value ≤ 0 sends every site to its distributed tail with no
  * probe job. Every budget is clamped to [[MaxRows]], so `limit(n + 1)`
  * cannot overflow an Int and the Int-indexed driver tails stay addressable.
  */
object DriverTail {

  /** The one conf key that caps (or, at ≤ 0, disables) every driver tail. */
  val MaxRowsKey = "spark.graft.driverTail.maxRows"

  /** Largest budget any site can get. */
  val MaxRows: Long = Int.MaxValue.toLong - 2

  /** Rows the driver tail at a site may hold: `siteLimit`, capped by
    * [[MaxRowsKey]] and by [[MaxRows]]. 0 means "distributed". A value of
    * the key that is not a whole number fails here, naming the key.
    */
  def budget(spark: SparkSession, siteLimit: Long): Long = {
    val cap = spark.conf.getOption(MaxRowsKey).fold(Long.MaxValue) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$MaxRowsKey must be a whole number of rows, got '$v'"))
    }
    math.max(0L, math.min(math.min(siteLimit, cap), MaxRows))
  }

  /** The probe: `df` collected if it has at most `budget(siteLimit)` rows,
    * else None. One bounded `limit(n + 1)` job; none at all at budget 0.
    */
  def collectWithin(df: DataFrame, siteLimit: Long): Option[Array[Row]] = {
    val n = budget(df.sparkSession, siteLimit)
    if (n <= 0) None
    else Some(df.limit(n.toInt + 1).collect()).filter(_.length <= n)
  }

  /** Driver mirror of Spark's `round(x, 6)` on a double (HALF_UP through
    * `BigDecimal.valueOf`, exactly as Catalyst rounds).
    */
  def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Driver mirror of Spark's `round(x, 0).cast("long")`. */
  def round0(x: Double): Long = java.math.BigDecimal.valueOf(x)
    .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
}
