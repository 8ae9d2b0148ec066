package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Daily compaction (SURVEY.md §2.1 S5/S6, §2.4 A4; reference
  * tasks/compaction.py:65-266).
  *
  * The reference rewrites an entire per-day JSON array on every append
  * (compaction.py:219-225 — O(day²) behavior). The Spark-native form is
  * date-partitioned parquet where a batch's cost follows the batch: its
  * rows are deduped by id, staged once, and published as new files when
  * none of its ids is already compacted. Only a batch that re-delivers a
  * compacted id rewrites the partitions it touches, each as
  * `existing ∪ incoming` deduped by id.
  *
  * Commit protocol: stage → journal → publish. The deduped batch is written
  * to a hidden `_graft_staging/<txn>` dir, one file per `(format_id, day)`
  * partition. The touched partitions are the staged partition directories;
  * a check reads only the key column of the existing ones.
  *  - Append path (no staged key exists yet, one staged file per
  *    partition): the journal lists the staged *files*, and each is
  *    published by one atomic file rename into its visible partition
  *    (file names are unique per write job). Existing files stay as they
  *    are. A reader of one partition sees the batch's one file for it, or
  *    not — all of the batch's rows there or none.
  *  - Merge path (a staged key exists, a partition staged more than one
  *    file, or a touched partition already holds [[Compaction.MaxAppendFiles]]
  *    files): the touched partitions and the staged batch are merged into a
  *    second txn, the first is dropped, and the journal lists partition
  *    *directories*, each swapped by atomic directory renames — a reader
  *    sees the whole old directory or the whole new one.
  * The `<txn>.commit` journal (atomic rename) marks the commit point in
  * both: a killed job can never tear a partition — pre-journal leftovers
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
    * dedup by key (keep the newest by `precedenceCol` desc, then
    * `tiebreak` — which must totally order rows sharing (key,
    * precedenceCol), or the survivor is partition-order dependent), then
    * append it when its keys are new, else merge it into the partitions it
    * touches. The incoming plan runs once: every later step reads the
    * staged files.
    */
  def compact(spark: SparkSession, incoming: DataFrame, path: String,
              key: String, precedenceCol: String,
              tiebreak: Seq[org.apache.spark.sql.Column] = Seq.empty): Unit = {
    val batch = deduped(incoming, key, precedenceCol, tiebreak)
    val fs = fsOf(spark, path)
    // Atomic commit (the reference gets whole-file atomicity for free from
    // SQLite / whole-day JSON rewrites — compaction.py:214-225,
    // db.py:229-236; dynamic partition overwrite does NOT: a crash
    // mid-overwrite tears the partition). Staging also removes the
    // read-overwrite hazard outright — every read is of `path` or a staged
    // txn, every write goes to `_graft_staging`. A first batch is no
    // exception: with no existing partition it appends with no check job.
    val txn = stage(spark, batch, path)
    val txnDir = new HPath(stagingRoot(path), txn)
    val files = stagedFiles(fs, txnDir)
    val parts = files.map(partitionOf).distinct
    if (files.isEmpty)
      // an empty batch stages no partitions (just a _SUCCESS marker): the
      // commit is a no-op — leave data untouched
      fs.delete(txnDir, true)
    else if (files.size == parts.size && // one file per partition: all or none
             appendable(spark, path, txn, parts, key, batch.schema))
      commitStaged(spark, path, txn, files)
    else {
      // the merged txn holds exactly the touched partitions
      val merged = mergeStaged(spark, path, txn, parts, key, precedenceCol, tiebreak,
                               batch.schema)
      commitStaged(spark, path, merged, parts)
    }
  }

  /** One row per key, the newest by the precedence order, laid out by the
    * partition columns.
    */
  private def latest(df: DataFrame, key: String, precedenceCol: String,
                     tiebreak: Seq[org.apache.spark.sql.Column]): DataFrame =
    Lifecycle.dedupKeepFirst(df, Seq(key),
        Seq(col(precedenceCol).desc) ++ tiebreak ++ Seq(col(key)))
      // One shuffle on the partition columns so each (format, day) directory
      // is written by exactly one task, as one file — without it, partitionBy
      // fans every write task across every touched directory (tasks × days
      // small files: the classic 1000-executor small-files failure; measured
      // locally 32 tasks × ~30 days ≈ 1000 files and 8.6 s → ~150 files).
      // One file per partition is also what lets the append path publish a
      // partition's rows with one rename. A day whose data outgrows one task
      // would cap via maxRecordsPerFile at the writer, and then takes the
      // merge path's directory swap.
      .repartition(col("format_id"), col("day"))

  /** The deduped incoming batch as `compact` stages it. Package-visible for
    * the crash-injection spec.
    */
  private[graft] def deduped(incoming: DataFrame, key: String, precedenceCol: String,
      tiebreak: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame =
    latest(incoming.withColumn("day", Scalars.epochToDate(col("uploadtime"))),
           key, precedenceCol, tiebreak)

  /** Existing partitions (as `format_id=…/day=…` relative paths) read with
    * the given schema — never inferred, so no footer job — or None when
    * none of them exists yet. The partitions are passed as directories with
    * the dataset as `basePath`, so only they are listed, and Spark's
    * partition discovery parses (and unescapes) their names. A read
    * failure propagates: taking a partition as empty would swap it out for
    * batch-only data and drop its compacted history.
    */
  private def existingPartitions(spark: SparkSession, path: String,
      parts: Seq[String], schema: StructType): Option[DataFrame] = {
    val fs = fsOf(spark, path)
    val dirs = parts.map(rel => s"$path/$rel").filter(d => fs.exists(new HPath(d)))
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).option("basePath", path).parquet(dirs: _*))
  }

  /** Most files the append path leaves in one partition. A batch that
    * would add one more merges instead, which rewrites each touched
    * partition as one file, so append-only history never grows a
    * partition past this many files.
    */
  val MaxAppendFiles = 8

  /** Whether the batch may take the append path: every touched partition
    * holds fewer than [[MaxAppendFiles]] files, and no staged key is
    * already compacted in one. The file counts come from the listing of
    * the existing partitions, which the key check reads anyway. The key
    * check reads only the key column on both sides; the staged keys are
    * the semi-join's build side. One job for the probe (plus the build
    * side's broadcast): each partition reports whether it holds a row, so
    * an empty answer never scans partition by partition as `limit(1)`
    * does.
    */
  private def appendable(spark: SparkSession, path: String, txn: String,
                         parts: Seq[String], key: String, schema: StructType): Boolean = {
    val keySchema = StructType(Seq(schema(key), schema("format_id"), schema("day")))
    existingPartitions(spark, path, parts, keySchema).forall { old =>
      val filesPerPartition = old.inputFiles.groupBy(partitionOf).values.map(_.length)
      filesPerPartition.forall(_ < MaxAppendFiles) && {
        val staged = spark.read.schema(keySchema)
          .parquet(s"${stagingRoot(path)}/$txn").select(key)
        !old.select(key).join(staged, Seq(key), "left_semi")
          .mapPartitions(rows => Iterator.single(rows.hasNext))(Encoders.scalaBoolean)
          .collect().contains(true)
      }
    }
  }

  /** The merge path's second stage: the touched existing partitions `parts`
    * ∪ the staged batch, deduped by key and laid out by partition, written
    * to a new txn; the batch's txn is then dropped. Returns the new txn.
    * Package-visible for the crash-injection spec.
    */
  private[graft] def mergeStaged(spark: SparkSession, path: String, txn: String,
      parts: Seq[String], key: String, precedenceCol: String,
      tiebreak: Seq[org.apache.spark.sql.Column], schema: StructType): String = {
    val txnDir = s"${stagingRoot(path)}/$txn"
    val staged = spark.read.schema(schema).parquet(txnDir)
    val all = existingPartitions(spark, path, parts, schema)
      .fold(staged)(_.unionByName(staged))
    val merged = stage(spark, latest(all, key, precedenceCol, tiebreak), path)
    fsOf(spark, path).delete(new HPath(txnDir), true)
    merged
  }

  /** Staging root under the dataset path. The leading underscore keeps it
    * invisible to Spark's file index (hidden-path convention), so readers
    * of `path` never see in-flight data.
    */
  private[graft] def stagingRoot(path: String) = s"$path/_graft_staging"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Phase 1 of the atomic commit: write a batch (or the merge path's
    * merged partitions) to `_graft_staging/<txn>/format_id=…/day=…`.
    * Nothing under the visible layout is touched; a crash here leaves an
    * orphan staging dir that [[recover]] rolls back (deletes) — old data
    * intact. Package-visible so the crash-injection spec can stop right
    * here.
    */
  private[graft] def stage(spark: SparkSession, df: DataFrame,
                           path: String): String = {
    val txn = java.util.UUID.randomUUID.toString
    df.write.mode("overwrite")
      .partitionBy("format_id", "day")
      .parquet(s"${stagingRoot(path)}/$txn")
    txn
  }

  /** Phase 2: journal + publish. The journal (`<txn>.commit`, created by
    * atomic rename of a `.tmp`) is the commit point — it lists every
    * staged file (append path) or partition dir (merge path) relative to
    * the txn. Before it exists, [[recover]] rolls the txn BACK; after, it
    * rolls FORWARD. Each entry is then published by renames, all
    * single-metadata-op atomic on HDFS/POSIX: a file moves into its
    * partition; a partition dir swaps (visible dir → `<txn>.old/…`
    * backup, staged dir → visible). (Object stores without atomic rename —
    * S3 — need a manifest committer or a table format like Delta/Iceberg
    * in front; this commit targets rename-atomic filesystems, same
    * contract as Spark's own v1 committer.) Cleanup (journal, backups,
    * empty staging) runs last and is idempotent.
    */
  private def commitStaged(spark: SparkSession, path: String,
                           txn: String, rels: Seq[String]): Unit = {
    val fs = fsOf(spark, path)
    val root = new HPath(stagingRoot(path))
    val journal = new HPath(root, s"$txn.commit")
    val tmp = new HPath(root, s"$txn.commit.tmp")
    val out = fs.create(tmp, true)
    out.write(rels.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, journal))
      throw new java.io.IOException(s"cannot publish commit journal $journal")
    swapAndClean(fs, path, txn, rels)
  }

  /** Staged data files as `format_id=…/day=…/<file>` paths relative to the
    * txn dir (hidden `_`/`.` files — markers, checksums — excluded).
    */
  private def stagedFiles(fs: FileSystem, txnDir: HPath): Seq[String] = {
    def children(dir: HPath) = fs.listStatus(dir).toIndexedSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
    for {
      f <- children(txnDir) if f.isDirectory
      d <- children(f.getPath) if d.isDirectory
      file <- children(d.getPath) if file.isFile
    } yield s"${f.getPath.getName}/${d.getPath.getName}/${file.getPath.getName}"
  }

  /** The directory of a file path: for a staged file, its
    * `format_id=…/day=…` partition.
    */
  private def partitionOf(file: String): String =
    file.substring(0, file.lastIndexOf('/'))

  /** Roll the journaled publish forward, then clean up. Idempotent: every
    * case distinguishes "not started / mid-swap / done" from the staged,
    * visible and backup paths' existence, so re-running after any crash
    * converges. A staged file's visible name never exists before its
    * rename (file names are unique per write job), so a file needs no
    * backup; a partition dir is backed up first.
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
    * was passed → roll FORWARD (finish the renames — the staged files or
    * dirs still hold the data); no journal means the crash was pre-commit
    * → roll BACK (delete the staging leftovers; the visible layout was
    * never touched).
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
