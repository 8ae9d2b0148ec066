package graft

import graft.ops.{Commit, Maintenance}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sampleState = Seq(
    ("r-1", "gen9ou", true), ("r-2", "gen9ou", false), ("r-3", "gen8ou", true))
    .toDF("replay_id", "format_id", "is_downloaded")

  test("resetFormatState writes the canonical default; dry run does not") {
    val dir = tmpDir("graft_state")
    val dry = Maintenance.resetFormatState(spark, dir, "gen9ou", dryRun = true)
    assert(dry.contains("\"last_seen_ts\":0"))
    assert(!new java.io.File(s"$dir/gen9ou_state.json").exists())
    Maintenance.resetFormatState(spark, dir, "gen9ou")
    val row = Maintenance.readFormatState(spark, dir, "gen9ou").head()
    assert(row.getString(0) == "gen9ou" && row.getLong(1) == 0L)
    assert(row.isNullAt(2) && row.isNullAt(3))
  }

  test("format-state cursor derives, saves, and round-trips (legacy state.py loop)") {
    val dir = tmpDir("graft_cursor")
    // load with no file present → canonical defaults
    val fresh = Maintenance.readFormatState(spark, dir, "gen9ou").head()
    assert(fresh.getLong(1) == 0L && fresh.isNullAt(2) && fresh.isNullAt(3))
    // derive from a status slice: watermarks + id at the high watermark
    val status = Seq(
      ("r-b", "gen9ou", 200L), ("r-a", "gen9ou", 100L), ("r-c", "gen9ou", 200L),
      ("r-z", "gen8ou", 999L))
      .toDF("replay_id", "format_id", "uploadtime")
    val derived = Maintenance.formatStateFromStatus(status, "gen9ou")
    val d = derived.head()
    assert(d.getString(0) == "gen9ou" && d.getLong(1) == 200L && d.getLong(2) == 100L)
    assert(d.getString(3) == "r-c", "ties at the high watermark break to the larger id")
    // save → load round trip
    Maintenance.saveFormatState(spark, dir, derived)
    val back = Maintenance.readFormatState(spark, dir, "gen9ou").head()
    assert(back.getString(0) == "gen9ou" && back.getLong(1) == 200L &&
           back.getLong(2) == 100L && back.getString(3) == "r-c")
  }

  test("backup retention: list newest-first, keep-N prune, dry run deletes nothing") {
    val dir = tmpDir("graft_ret") + "/state"
    sampleState.write.parquet(dir)
    val stamps = Seq("20240801_000000", "20240802_000000", "20240803_000000")
    stamps.foreach(Maintenance.backup(spark, dir, _))
    val listed = Maintenance.listBackups(spark, dir)
    assert(listed.size == 3)
    assert(listed.map(p => p.substring(p.indexOf(".backup_") + 8)) ==
           stamps.reverse, "newest first")
    // dry run: reports the two oldest, deletes nothing
    val wouldGo = Maintenance.pruneBackups(spark, dir, keep = 1, dryRun = true)
    assert(wouldGo.size == 2 && Maintenance.listBackups(spark, dir).size == 3)
    assert(wouldGo.head.endsWith(".backup_20240801_000000"), "oldest first")
    // real prune: keeps only the newest; survivors still readable
    val gone = Maintenance.pruneBackups(spark, dir, keep = 1)
    assert(gone == wouldGo)
    val left = Maintenance.listBackups(spark, dir)
    assert(left.size == 1 && left.head.endsWith(".backup_20240803_000000"))
    assert(spark.read.parquet(left.head).count() == 3)
    // keep = 0 reproduces the reference's drop-all
    assert(Maintenance.pruneBackups(spark, dir, keep = 0).size == 1)
    assert(Maintenance.listBackups(spark, dir).isEmpty)
  }

  test("backup copies the state dir; refuses to overwrite an existing backup") {
    val dir = tmpDir("graft_bk") + "/state"
    sampleState.write.parquet(dir)
    val bk = Maintenance.backup(spark, dir, "20240801_000000")
    assert(spark.read.parquet(bk).count() == 3)
    intercept[IllegalArgumentException] {
      Maintenance.backup(spark, dir, "20240801_000000")
    }
  }

  test("vacuum compacts files, preserves rows exactly, and leaves a backup") {
    val dir = tmpDir("graft_vac") + "/state"
    sampleState.repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).orderBy("replay_id").collect().toSeq
    val nFilesBefore = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFilesBefore > 1)
    val bk = Maintenance.vacuum(spark, dir, "20240801_000001")
    val after = spark.read.parquet(dir).orderBy("replay_id").collect().toSeq
    assert(after == before, "vacuum must not change row content")
    val nFilesAfter = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFilesAfter == 1, s"expected 1 compacted file, found $nFilesAfter")
    assert(spark.read.parquet(bk).count() == 3, "backup must hold the pre-vacuum rows")
  }

  /** Where backups and vacuums of `dir` stage. */
  private def stagingBeside(dir: String) = java.nio.file.Path.of(Commit.besideRoot(dir))

  private def recover(dir: String) =
    Commit.recover(spark, Commit.besideRoot(dir), new java.io.File(dir).getParent)

  private def sorted(dir: String) =
    spark.read.parquet(dir).orderBy("replay_id").collect().toSeq

  private def siblings(dir: String): Set[String] =
    new java.io.File(dir).getParentFile.list().toSet

  test("vacuum: a crash after retiring the live dir is restored by recover") {
    val dir = tmpDir("graft_vac_crash") + "/state"
    sampleState.repartition(3).write.parquet(dir)
    val before = sorted(dir)
    // what vacuum stages and journals: the backup copy and the compacted
    // store; then "die" after moving the live dir to the txn's backup
    val root = stagingBeside(dir)
    spark.read.parquet(dir).write.parquet(root.resolve("t1/state.backup_20240801_000002").toString)
    spark.read.parquet(dir).coalesce(1).write.parquet(root.resolve("t1/state").toString)
    Files.writeString(root.resolve("t1.commit"), "state.backup_20240801_000002\nstate\n")
    Files.createDirectories(root.resolve("t1.old"))
    Files.move(java.nio.file.Path.of(dir), root.resolve("t1.old/state"))
    assert(!new java.io.File(dir).exists())
    assert(recover(dir) == ((1, 0)))
    assert(sorted(dir) == before, "the compacted store is live")
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(Maintenance.listBackups(spark, dir).map(_.takeRight(15)) == Seq("20240801_000002"))
    assert(Files.list(root).count() == 0, "staging cleaned")
    assert(recover(dir) == ((0, 0)))
  }

  test("vacuum: a rewrite that fails leaves the live dir, no backup and no " +
       ".new or .old_* sibling") {
    val dir = tmpDir("graft_vac_fail") + "/state"
    // two files that disagree on a column's type: the scan of the rewrite
    // fails on whichever file the inferred schema did not come from
    Seq(("r-1", "gen9ou", true)).toDF("replay_id", "format_id", "is_downloaded")
      .write.parquet(dir)
    Seq(("r-2", "gen9ou", "yes")).toDF("replay_id", "format_id", "is_downloaded")
      .write.mode("append").parquet(dir)
    val files = new java.io.File(dir).list().toSet
    intercept[Exception](Maintenance.vacuum(spark, dir, "20240801_000003"))
    assert(new java.io.File(dir).list().toSet == files, "the live dir is untouched")
    assert(siblings(dir) == Set("state", "_graft_staging"), siblings(dir))
    assert(Maintenance.listBackups(spark, dir).isEmpty, "no backup of a failed vacuum")
    assert(Files.list(stagingBeside(dir)).count() == 0, "the failed txn is deleted")
    assert(recover(dir) == ((0, 0)))
    // a vacuum that succeeds leaves the live dir and its backup
    val ok = tmpDir("graft_vac_ok") + "/state"
    sampleState.repartition(3).write.parquet(ok)
    Maintenance.vacuum(spark, ok, "20240801_000004")
    assert(siblings(ok) == Set("state", "state.backup_20240801_000004", "_graft_staging"),
      siblings(ok))
  }

  test("backup: a copy that fails halfway is never listed, and keep-N keeps the " +
       "good backup") {
    val dir = tmpDir("graft_bk_partial") + "/state"
    sampleState.repartition(3).write.parquet(dir)
    Maintenance.backup(spark, dir, "20240801_000000")
    // flip one byte of a data file: its checksum no longer matches, so the
    // next copy fails when it reaches that file
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(part.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(part.toPath, bytes)
    intercept[java.io.IOException](Maintenance.backup(spark, dir, "20240802_000000"))
    assert(Maintenance.listBackups(spark, dir).map(_.takeRight(15)) == Seq("20240801_000000"))
    assert(Maintenance.pruneBackups(spark, dir, keep = 1).isEmpty)
    assert(spark.read.parquet(Maintenance.listBackups(spark, dir).head).count() == 3)
    assert(Files.list(stagingBeside(dir)).count() == 0, "the partial copy is deleted")
  }

  test("state files save over an existing one where rename refuses an existing target") {
    val local = tmpDir("graft_refusing")
    val dir = s"refusing://$local"
    val keys = Seq("fs.refusing.impl", "fs.AbstractFileSystem.refusing.impl")
    keys.zip(Seq(classOf[RefusingRenameFs], classOf[RefusingRenameAfs]))
      .foreach { case (k, c) => spark.conf.set(k, c.getName) }
    try {
      val refused = RefusingRenameFs.refused.get
      Maintenance.resetFormatState(spark, dir, "gen9ou")
      val status = Seq(("r-b", "gen9ou", 200L)).toDF("replay_id", "format_id", "uploadtime")
      Maintenance.saveFormatState(spark, dir, Maintenance.formatStateFromStatus(status, "gen9ou"))
      assert(RefusingRenameFs.refused.get > refused, "the plain rename was refused")
      val file = java.nio.file.Path.of(local, "gen9ou_state.json")
      assert(Files.readString(file) == """{"format_id":"gen9ou","last_seen_ts":200,""" +
        """"oldest_ts":200,"last_processed_id":"r-b"}""")
      Maintenance.resetFormatState(spark, dir, "gen9ou")
      assert(Files.readString(file) == Maintenance.defaultFormatState("gen9ou"))
      assert(new java.io.File(local).list().toSeq == Seq("gen9ou_state.json"), "no .tmp left")
    } finally keys.foreach(spark.conf.unset)
  }

  test("integrityReport counts duplicates and null keys") {
    val dirty = sampleState
      .unionByName(Seq(("r-1", "gen9ou", true)).toDF("replay_id", "format_id", "is_downloaded"))
      .unionByName(Seq((null.asInstanceOf[String], "gen9ou", false))
        .toDF("replay_id", "format_id", "is_downloaded"))
    val r = Maintenance.integrityReport(dirty, "replay_id").head()
    assert(r.getAs[Long]("n_rows") == 5)
    assert(r.getAs[Long]("n_distinct_keys") == 3)
    assert(r.getAs[Long]("n_null_keys") == 1)
    assert(r.getAs[Long]("n_dup_keys") == 1)
    assert(r.getAs[Long]("n_rows_in_dup_keys") == 2)
  }
}

/** A local filesystem under the `refusing:` scheme whose rename, like
  * HDFS's and S3A's, refuses an existing target.
  */
class RefusingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusing:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (exists(dst)) { RefusingRenameFs.refused.incrementAndGet(); false }
    else super.rename(src, dst)
}

object RefusingRenameFs {
  val refused = new java.util.concurrent.atomic.AtomicInteger
}

/** [[RefusingRenameFs]] as `FileContext` sees it. */
class RefusingRenameAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new RefusingRenameFs, conf, "refusing", false)
