package graft

import org.apache.spark.sql.SparkSession

/** Test scope: arms a session built without the policy, so the JVM's
  * codegen cache is sized at Spark's default, then stops it and arms a
  * policy session, which finds the cache already fixed. Prints the cache
  * bound and whether each arm recorded a warning. Run in its own JVM (the
  * cache is JVM-wide) by GraftSessionSpec: `graft.CodegenCacheMain`.
  */
object CodegenCacheMain {
  def main(args: Array[String]): Unit = {
    def report(label: String, s: SparkSession): Unit = {
      GraftSession.arm(s)
      println(s"CODEGEN $label bound=${GraftSession.codegenCacheBound().getOrElse(-1L)} " +
              s"warned=${GraftSession.codegenCacheWarning(s).isDefined}")
    }
    val user = SparkSession.builder().master("local[1]").getOrCreate()
    user.sparkContext.setLogLevel("ERROR")
    report("user", user)
    user.stop()
    val policy = GraftSession.local(1)
    report("policy", policy)
    policy.stop()
  }
}
