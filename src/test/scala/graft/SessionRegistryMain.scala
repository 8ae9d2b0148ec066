package graft

/** Test scope: builds a session, stops it, builds a second one, and prints
  * which of the two [[GraftSession]]'s registry still holds. Run in its own
  * JVM (one SparkContext per JVM) by GraftSessionSpec:
  * `graft.SessionRegistryMain <sfDir>`.
  */
object SessionRegistryMain {
  def main(args: Array[String]): Unit = {
    def session() = GraftSession.local(1)
    val first = session()
    first.sparkContext.setLogLevel("ERROR")
    Tables.region(first, args(0)).count()
    first.stop()
    val second = session()
    second.sparkContext.setLogLevel("ERROR")
    Tables.region(second, args(0)).count()
    val held = GraftSession.registered
    println(s"REGISTRY held_first=${held.contains(first)} " +
            s"held_second=${held.contains(second)} size=${held.size}")
    second.stop()
  }
}
