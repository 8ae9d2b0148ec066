package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One bounded LRU of trained ANN artifacts (k-means centroids, PQ
  * codebooks, SQ8 ladders). Every trainer is deterministic fixed-point
  * arithmetic (same input ⇒ bit-identical artifact), so a hit cannot change
  * a result as long as the key identifies the input. The canonicalized plan
  * alone reads the same for any two parquet directories, or any two local
  * relations, of one schema; the key therefore adds the data identity of
  * every leaf of the plan:
  *
  *  - a file relation: (path, length, mtime) of every listed file;
  *  - a `LocalRelation`: a digest of its rows;
  *  - a `LogicalRDD` (a checkpoint): its RDD id.
  *
  * A plan with any other kind of leaf trains without caching. A
  * `graft.Tables` relation is rebuilt when its file changes, so a rewritten
  * table is a new listing and a miss.
  */
object TrainedArtifactCache {

  /** Three artifact kinds × 16 entries each. */
  val Capacity = 48

  private final case class Key(kind: String, plan: String, leaves: Seq[Any],
                               config: Seq[Any])

  private val lru = new java.util.LinkedHashMap[Key, AnyRef](Capacity, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, AnyRef]): Boolean =
      size() > Capacity
  }

  /** The cached `kind` artifact for (`corpus`, `config`), or `train`'s
    * result, cached when the corpus has a data identity. Training runs
    * outside the lock; two racing trainers compute the same artifact.
    */
  def getOrTrain[A <: AnyRef](kind: String, corpus: DataFrame, config: Any*)(
      train: => A): A =
    keyOf(kind, corpus, config).fold(train) { key =>
      lru.synchronized(Option(lru.get(key))).getOrElse {
        val a = train
        lru.synchronized(lru.put(key, a))
        a
      }.asInstanceOf[A]
    }

  /** Drop every cached artifact. */
  def clear(): Unit = lru.synchronized(lru.clear())

  private def keyOf(kind: String, corpus: DataFrame,
                    config: Seq[Any]): Option[Key] = {
    val plan = corpus.queryExecution.analyzed
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }.map {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => Some(fs.location.listFiles(Nil, Nil)
          .flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted)
        case _ => None
      }
      case l: LocalRelation => Some(rowsDigest(l))
      case r: LogicalRDD => Some(r.rdd.id)
      case _ => None
    }
    Option.when(leaves.forall(_.isDefined))(
      Key(kind, plan.canonicalized.toString, leaves.flatten, config))
  }

  /** SHA-256 over the rows' length-prefixed unsafe encoding. */
  private def rowsDigest(l: LocalRelation): String = {
    val toUnsafe = UnsafeProjection.create(l.schema)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    l.data.foreach { r =>
      val bytes = toUnsafe(r).getBytes
      md.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
