package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Daily compaction (SURVEY.md §2.1 S5/S6, §2.4 A4; reference
  * tasks/compaction.py:65-266).
  *
  * The reference rewrites an entire per-day JSON array on every append
  * (compaction.py:219-225 — O(day²) behavior). The Spark-native form is
  * date-partitioned parquet where only the partitions present in the
  * incoming batch are rewritten, each as `existing ∪ incoming` deduped by
  * id. At 100 TB this touches only the days that received data, and each
  * day rewrites in parallel across executors.
  *
  * Commit protocol (round 10): stage → journal → swap. The merged touched
  * partitions are written to a hidden `_graft_staging/<txn>` dir, a
  * `<txn>.commit` journal (atomic rename) marks the commit point, and each
  * partition then swaps into the visible layout by atomic directory
  * renames. A killed job can never tear a partition: pre-journal leftovers
  * roll BACK, post-journal ones roll FORWARD, both via [[Compaction.recover]].
  */
object Compaction {

  /** A4 — compaction planning (get_replays_by_date, db.py:666-700): group
    * downloaded-not-compacted work by (format, day) with a deterministic
    * id list per group.
    */
  def plan(status: DataFrame): DataFrame =
    status.filter(col("is_downloaded") && !col("is_compacted"))
      .groupBy(col("format_id"),
               Scalars.epochToDate(col("uploadtime")).as("day"))
      .agg(count(lit(1)).as("n"),
           array_join(sort_array(collect_list(col("replay_id"))), ",").as("ids_csv"))

  /** S5/U1/U5 — compact one batch into a date-partitioned parquet dataset:
    * union with what's already there, dedup by key (keep the newest by
    * `precedenceCol` desc, then `tiebreak` — which must totally order rows
    * sharing (key, precedenceCol), or the survivor is partition-order
    * dependent), rewrite only the partitions the batch touches.
    */
  def compact(spark: SparkSession, incoming: DataFrame, path: String,
              key: String, precedenceCol: String,
              tiebreak: Seq[org.apache.spark.sql.Column] = Seq.empty): Unit = {
    val (merged, hasExisting) =
      mergedFor(spark, incoming, path, key, precedenceCol, tiebreak)
    if (!hasExisting)
      // first write: no old data to protect — stream straight in
      merged.write.mode("overwrite")
        .partitionBy("format_id", "day").parquet(path)
    else {
      // Atomic commit (the reference gets whole-file atomicity for free
      // from SQLite / whole-day JSON rewrites — compaction.py:214-225,
      // db.py:229-236; dynamic partition overwrite does NOT: a crash
      // mid-overwrite tears the partition). Staging also removes the
      // read-overwrite hazard outright — the job reads `path` and writes
      // `_graft_staging`, so no cache()+count() materialization pass.
      val txn = stage(spark, merged, path)
      commitStaged(spark, path, txn)
    }
  }

  /** The union-dedup-repartition plan `compact` stages, plus whether an
    * existing dataset was read (the read-overwrite/atomicity hazard only
    * exists when one was). Package-visible for the crash-injection spec.
    */
  private[graft] def mergedFor(spark: SparkSession, incoming: DataFrame,
      path: String, key: String, precedenceCol: String,
      tiebreak: Seq[org.apache.spark.sql.Column]): (DataFrame, Boolean) = {
    val partitioned = incoming
      .withColumn("day", Scalars.epochToDate(col("uploadtime")))
    // Only "dataset does not exist yet" maps to None — checked before the
    // read, which would otherwise log a FileNotFoundException trace from
    // Spark's sink-metadata probe. Any other read failure must abort:
    // treating it as empty would dynamic-overwrite the touched partitions
    // with incoming-only data and drop compacted history.
    //
    // The touched-partition restriction is a STATIC partition predicate,
    // not a semi-join: the touched set is bounded by the batch's
    // formats × days (the reference's batches are per-day slices), so it
    // collects driver-side and the OR-chain of partition-column equalities
    // prunes at the file index — the scan lists only touched directories.
    // The semi-join form read the ENTIRE compacted dataset to keep the
    // rows a partition filter eliminates for free; at 100 TB that is a
    // full-table read per daily batch. A batch touching >1000 partitions
    // falls back to the semi-join (an OR-chain that wide plans worse than
    // one shuffle).
    val existing =
      if (!fsOf(spark, path).exists(new HPath(path))) None
      else try {
        val ds = spark.read.parquet(path)
        val touched = partitioned.select("format_id", "day").distinct().collect()
        if (touched.nonEmpty && touched.length <= 1000)
          Some(ds.filter(touched.map(r =>
            col("format_id") === lit(r.get(0)) && col("day") === lit(r.get(1)))
            .reduce(_ || _)))
        else
          Some(ds.join(partitioned.select("format_id", "day").distinct(),
                       Seq("format_id", "day"), "left_semi"))
      }
      catch {
        // the dir exists but holds no parquet yet: also a first compaction
        case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
      }
    val all = existing match {
      case Some(ex) => ex.selectExpr(partitioned.columns.toIndexedSeq.map(c => s"`$c`"): _*)
        .unionByName(partitioned)
      case None => partitioned
    }
    val merged = Lifecycle.dedupKeepFirst(all, Seq(key),
        Seq(col(precedenceCol).desc) ++ tiebreak ++ Seq(col(key)))
      // One shuffle on the partition columns so each (format, day) directory
      // is written by exactly one task — without it, partitionBy fans every
      // write task across every touched directory (tasks × days small
      // files: the classic 1000-executor small-files failure; measured
      // locally 32 tasks × ~30 days ≈ 1000 files and 8.6 s → ~150 files).
      // A day whose data outgrows one task would cap via maxRecordsPerFile
      // at the writer — per-day volume is bounded by a day's ingest here,
      // same as the reference's whole-day rewrite (compaction.py:219-225).
      .repartition(col("format_id"), col("day"))
    (merged, existing.isDefined)
  }

  /** Staging root under the dataset path. The leading underscore keeps it
    * invisible to Spark's file index (hidden-path convention), so readers
    * of `path` never see in-flight data.
    */
  private[graft] def stagingRoot(path: String) = s"$path/_graft_staging"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Phase 1 of the atomic commit: write the merged touched-partition
    * relation to `_graft_staging/<txn>/format_id=…/day=…`. Nothing under
    * the visible layout is touched; a crash here leaves an orphan staging
    * dir that [[recover]] rolls back (deletes) — old data intact.
    * Package-visible so the crash-injection spec can stop right here.
    */
  private[graft] def stage(spark: SparkSession, merged: DataFrame,
                           path: String): String = {
    val txn = java.util.UUID.randomUUID.toString
    merged.write.mode("overwrite")
      .partitionBy("format_id", "day")
      .parquet(s"${stagingRoot(path)}/$txn")
    txn
  }

  /** Phase 2: journal + swap. The journal (`<txn>.commit`, created by
    * atomic rename of a `.tmp`) is the commit point — it lists every
    * staged partition. Before it exists, [[recover]] rolls the txn BACK;
    * after, it rolls FORWARD. Each partition then swaps by two renames
    * (visible dir → `<txn>.old/…` backup, staged dir → visible), both
    * single-metadata-op atomic on HDFS/POSIX — a reader sees the whole
    * old directory or the whole new one, never a mix. (Object stores
    * without atomic rename — S3 — need a manifest committer or a table
    * format like Delta/Iceberg in front; this commit targets
    * rename-atomic filesystems, same contract as Spark's own v1
    * committer.) Cleanup (journal, backups, empty staging) runs last and
    * is idempotent.
    */
  private[graft] def commitStaged(spark: SparkSession, path: String,
                                  txn: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new HPath(stagingRoot(path))
    val txnDir = new HPath(root, txn)
    val rels = stagedPartitions(fs, txnDir)
    if (rels.isEmpty) {
      // an empty batch stages no partitions (just a _SUCCESS marker):
      // the commit is a no-op — clean the txn dir and leave data untouched
      fs.delete(txnDir, true)
      return
    }
    val journal = new HPath(root, s"$txn.commit")
    val tmp = new HPath(root, s"$txn.commit.tmp")
    val out = fs.create(tmp, true)
    out.write(rels.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, journal))
      throw new java.io.IOException(s"cannot publish commit journal $journal")
    swapAndClean(fs, path, txn, rels)
  }

  /** Staged partition dirs as `format_id=…/day=…` relative paths. */
  private def stagedPartitions(fs: FileSystem, txnDir: HPath): Seq[String] =
    fs.listStatus(txnDir).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap { f =>
        fs.listStatus(f.getPath).toIndexedSeq
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .map(d => s"${f.getPath.getName}/${d.getPath.getName}")
      }

  /** Roll the journaled swap forward, then clean up. Idempotent: every
    * case distinguishes "not started / mid-swap / done" from the three
    * dirs' existence, so re-running after any crash converges.
    */
  private def swapAndClean(fs: FileSystem, path: String, txn: String,
                           rels: Seq[String]): Unit = {
    val root = new HPath(stagingRoot(path))
    val oldRoot = new HPath(root, s"$txn.old")
    rels.foreach { rel =>
      val staged = new HPath(root, s"$txn/$rel")
      val dest = new HPath(s"$path/$rel")
      val backup = new HPath(oldRoot, rel)
      if (fs.exists(staged)) {
        if (fs.exists(dest)) {
          fs.mkdirs(backup.getParent)
          if (!fs.rename(dest, backup))
            throw new java.io.IOException(s"cannot back up $dest")
        }
        fs.mkdirs(dest.getParent)
        if (!fs.rename(staged, dest))
          throw new java.io.IOException(s"cannot publish $dest")
      } // staged absent → this rel already swapped by a previous attempt
    }
    fs.delete(new HPath(root, s"$txn.commit"), false)
    fs.delete(oldRoot, true)
    fs.delete(new HPath(root, txn), true)
  }

  /** Crash recovery for interrupted [[compact]] runs — run once before
    * compacting into a dataset that may hold a dead job's leftovers (the
    * reference's SQLite does this implicitly via its WAL). For each
    * transaction under `_graft_staging`: a journal means the commit point
    * was passed → roll FORWARD (finish the swaps — staged dirs still hold
    * the data); no journal means the crash was pre-commit → roll BACK
    * (delete the staging leftovers; the visible layout was never touched).
    * Returns (rolledForward, rolledBack) txn counts.
    */
  def recover(spark: SparkSession, path: String): (Int, Int) = {
    val fs = fsOf(spark, path)
    val root = new HPath(stagingRoot(path))
    if (!fs.exists(root)) return (0, 0)
    val entries = fs.listStatus(root).toIndexedSeq
    val journals = entries.filter(_.getPath.getName.endsWith(".commit"))
    var fwd = 0
    journals.foreach { j =>
      val txn = j.getPath.getName.stripSuffix(".commit")
      val rels = {
        val in = fs.open(j.getPath)
        val s = scala.io.Source.fromInputStream(in, "UTF-8")
        try s.getLines().filter(_.nonEmpty).toList finally { s.close(); in.close() }
      }
      swapAndClean(fs, path, txn, rels)
      fwd += 1
    }
    var back = 0
    fs.listStatus(root).toIndexedSeq.foreach { e =>
      val n = e.getPath.getName
      if (e.isDirectory && !n.endsWith(".old")) {
        // a txn dir with no journal: pre-commit crash → roll back
        if (!fs.exists(new HPath(root, s"$n.commit"))) {
          fs.delete(e.getPath, true); back += 1
        }
      } else if (n.endsWith(".commit.tmp")) {
        fs.delete(e.getPath, false) // journal never published → pre-commit
      }
    }
    (fwd, back)
  }
}
