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
  * Each batch is one [[Commit]] with root `<path>/_graft_staging`: the
  * deduped batch is staged in the txn as one file per `(format_id, day)`
  * partition, and the staged partition dirs are the touched set, whose
  * existing files a check reads by key column only.
  *  - Append path (no staged key exists yet, one staged file per
  *    partition): the journal lists the staged *files*, each published by
  *    one rename into its partition; existing files stay as they are, and
  *    a reader of a partition sees all of the batch's rows there or none.
  *  - Merge path (a staged key exists, a partition staged more than one
  *    file, or a touched partition already holds [[Compaction.MaxAppendFiles]]
  *    files): the touched partitions and the staged batch are merged into
  *    the same staged partition dirs, the batch's own files are deleted,
  *    and the journal lists partition *dirs*, each swapped whole.
  * A killed job never tears a partition; the next batch, or
  * [[Compaction.recover]], finishes or drops its leftovers.
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
    // The commit recovers the root first, or a journal that a crash left
    // would roll forward later, over this batch.
    Commit(spark, stagingRoot(path), path) { dir =>
      write(batch, dir)
      val files = stagedFiles(Commit.fsOf(spark, path), new HPath(dir))
      val parts = files.map(partitionOf).distinct
      if (files.size == parts.size && // one file per partition: all or none
          appendable(spark, path, dir, parts, key, batch.schema)) files
      else {
        mergeStaged(spark, path, new HPath(dir).getName, parts, key, precedenceCol, tiebreak,
                    batch.schema)
        parts
      }
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
    val fs = Commit.fsOf(spark, path)
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
  private def appendable(spark: SparkSession, path: String, txnDir: String,
                         parts: Seq[String], key: String, schema: StructType): Boolean = {
    val keySchema = StructType(Seq(schema(key), schema("format_id"), schema("day")))
    existingPartitions(spark, path, parts, keySchema).forall { old =>
      val filesPerPartition = old.inputFiles.groupBy(partitionOf).values.map(_.length)
      filesPerPartition.forall(_ < MaxAppendFiles) && {
        val staged = spark.read.schema(keySchema).parquet(txnDir).select(key)
        !old.select(key).join(staged, Seq(key), "left_semi")
          .mapPartitions(rows => Iterator.single(rows.hasNext))(Encoders.scalaBoolean)
          .collect().contains(true)
      }
    }
  }

  /** The merge path's second stage: the touched existing partitions `parts`
    * ∪ the staged batch, deduped by key and laid out by partition, written
    * into the batch's txn, whose batch files are then deleted. Returns
    * `txn`. Package-visible for the crash-injection spec.
    */
  private[graft] def mergeStaged(spark: SparkSession, path: String, txn: String,
      parts: Seq[String], key: String, precedenceCol: String,
      tiebreak: Seq[org.apache.spark.sql.Column], schema: StructType): String = {
    val fs = Commit.fsOf(spark, path)
    val txnDir = new HPath(stagingRoot(path), txn)
    val batchFiles = stagedFiles(fs, txnDir)
    // the read lists the batch's files now, before the merged ones land
    val staged = spark.read.schema(schema).parquet(txnDir.toString)
    val all = existingPartitions(spark, path, parts, schema)
      .fold(staged)(_.unionByName(staged))
    write(latest(all, key, precedenceCol, tiebreak), txnDir.toString)
    batchFiles.foreach(f => fs.delete(new HPath(txnDir, f), false))
    txn
  }

  private[graft] def stagingRoot(path: String) = s"$path/${Commit.Staging}"

  /** Stage `df` under `dir` as `format_id=…/day=…` partitions. */
  private def write(df: DataFrame, dir: String): Unit =
    df.write.mode("append").partitionBy("format_id", "day").parquet(dir)

  /** Stage a batch as `_graft_staging/<txn>/format_id=…/day=…` with no
    * journal, as a crash before the commit point leaves it; [[recover]]
    * rolls it back. Package-visible for the crash-injection spec.
    */
  private[graft] def stage(spark: SparkSession, df: DataFrame, path: String): String = {
    val txn = java.util.UUID.randomUUID.toString
    write(df, s"${stagingRoot(path)}/$txn")
    txn
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

  /** A staged file's `format_id=…/day=…` partition dir. */
  private def partitionOf(file: String): String =
    file.substring(0, file.lastIndexOf('/'))

  /** [[Commit.recover]] for the dataset at `path`. */
  def recover(spark: SparkSession, path: String): (Int, Int) =
    Commit.recover(spark, stagingRoot(path), path)
}
