package graft

import org.apache.spark.sql.SparkSession

/** Pass-through kept for one caller: the benchmark harness
  * (`sessionbench/src/graftbench/Catalog.scala`) wraps each query in it, and
  * that harness only changes together with the benchmark definition. The
  * session policy it once varied per query now lives in [[GraftSession]]
  * (derived shuffle width, AQE on for every query). Delete this object with
  * the next change to the benchmark harness.
  */
object Tuning {
  def withTuned[A](spark: SparkSession, name: String)(body: => A): A = body
}
