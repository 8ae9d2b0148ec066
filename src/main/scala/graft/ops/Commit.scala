package graft.ops

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.SparkSession

/** The one commit for every durable replace, as SQLite gives the reference
  * (db.py:229-236, compaction.py:214-225, reset_format_state.py:63-137).
  * Stage → journal → publish, over a staging root and a base dir: new
  * contents are written under `<root>/<txn>/<rel>`; `<root>/<txn>.commit`,
  * listing the rels, appears by one rename (the commit point); each rel
  * then moves to `<base>/<rel>`, an existing one first to
  * `<root>/<txn>.old/<rel>`. A reader sees a whole old rel or a whole new
  * one, and [[recover]] finishes or drops what a crash left.
  *
  * Roots are per table, so a recover never touches another table's txn:
  * `<table>/_graft_staging` (hidden from Spark's file index) for parts of a
  * table, and `<parent>/_graft_staging/<name>` ([[besideRoot]]) for a dir
  * and its `<name>.…` siblings. One writer per root at a time. The publish
  * renames only onto free names, atomic on HDFS/POSIX; an object store
  * without atomic rename (S3) needs a manifest committer in front, as
  * Spark's own v1 committer does.
  */
object Commit {

  val Staging = "_graft_staging"

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** One txn on `root`: recover it, let `stage` write under a fresh txn
    * dir (its argument) and return the rels it wrote, then journal and
    * publish them. A `stage` that throws leaves nothing behind.
    */
  def apply(spark: SparkSession, root: String, base: String)(
      stage: String => Seq[String]): Unit = {
    recover(spark, root, base)
    val fs = fsOf(spark, base)
    val txn = java.util.UUID.randomUUID.toString
    val dir = new HPath(root, txn)
    val rels = try stage(dir.toString) catch {
      case e: Throwable => fs.delete(dir, true); throw e
    }
    writeAtomically(fs, new HPath(root, s"$txn.commit"),
                    rels.mkString("", "\n", "\n").getBytes("UTF-8"))
    swapAndClean(fs, root, base, txn, rels)
  }

  /** Staging root of `dir` and its siblings: `<parent>/_graft_staging/<name>`. */
  private[graft] def besideRoot(dir: String): String = {
    val d = new HPath(dir)
    require(d.getParent != null, s"cannot replace the root dir $dir")
    s"${d.getParent}/$Staging/${d.getName}"
  }

  /** One txn on [[besideRoot]], with base the parent of `dir`. */
  def beside(spark: SparkSession, dir: String)(stage: String => Seq[String]): Unit =
    apply(spark, besideRoot(dir), new HPath(dir).getParent.toString)(stage)

  /** Write `bytes` to `<path>.tmp`, then rename it onto `path`: a crash
    * leaves the old file or the new one, never a truncated one. Where
    * `FileSystem.rename` refuses an existing target (HDFS, S3A), the
    * `FileContext` rename with OVERWRITE replaces it, atomically on HDFS.
    */
  def writeAtomically(fs: FileSystem, path: HPath, bytes: Array[Byte]): Unit = {
    val tmp = path.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, path))
      FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(path), Options.Rename.OVERWRITE)
  }

  private def move(fs: FileSystem, from: HPath, to: HPath): Unit =
    if (!fs.mkdirs(to.getParent) || !fs.rename(from, to))
      throw new java.io.IOException(s"cannot move $from to $to")

  /** Roll the journaled publish forward, then clean up; re-running after
    * any crash converges. A staged file's name is unique per write job, so
    * only a dir ever has a visible twin to move aside.
    */
  private def swapAndClean(fs: FileSystem, root: String, base: String,
                           txn: String, rels: Seq[String]): Unit = {
    val oldRoot = new HPath(root, s"$txn.old")
    rels.foreach { rel =>
      val staged = new HPath(root, s"$txn/$rel")
      val dest = new HPath(s"$base/$rel")
      if (fs.exists(staged)) { // absent: published by an earlier attempt
        if (fs.exists(dest)) move(fs, dest, new HPath(oldRoot, rel))
        move(fs, staged, dest)
      }
    }
    // the journal goes last, so a crash mid-cleanup leaves it to finish
    fs.delete(oldRoot, true)
    fs.delete(new HPath(root, txn), true)
    fs.delete(new HPath(root, s"$txn.commit"), false)
  }

  /** Crash recovery for `root` (SQLite's WAL does this for the reference):
    * a txn with a journal rolls FORWARD (the staged paths still hold the
    * data), one without rolls BACK (`base` was never touched). Returns
    * (rolledForward, rolledBack) txn counts.
    */
  def recover(spark: SparkSession, root: String, base: String): (Int, Int) = {
    val fs = fsOf(spark, base)
    val rootPath = new HPath(root)
    if (!fs.exists(rootPath)) return (0, 0)
    val journals = fs.listStatus(rootPath).filter(_.getPath.getName.endsWith(".commit"))
    journals.foreach { j =>
      val in = fs.open(j.getPath)
      val rels = try new String(in.readAllBytes(), "UTF-8").split('\n').filter(_.nonEmpty).toSeq
                 finally in.close()
      swapAndClean(fs, root, base, j.getPath.getName.stripSuffix(".commit"), rels)
    }
    // what is left never reached its commit point (txn dirs, unrenamed
    // journals) or is a `.old` dir an earlier cleanup order orphaned
    val leftovers = fs.listStatus(rootPath)
    leftovers.foreach(e => fs.delete(e.getPath, true))
    (journals.length,
     leftovers.count(e => e.isDirectory && !e.getPath.getName.endsWith(".old")))
  }
}
