package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet test tables (TESTDATA.md).
  *
  * All tables load as plain parquet scans so Catalyst keeps full pushdown /
  * pruning freedom. The one normalization: `events.ts` has shipped in two
  * physical encodings across driver rounds — parquet TIMESTAMP(NANOS)
  * (which Spark's vectorized reader rejects at inference,
  * [PARQUET_TYPE_ILLEGAL]) and native timestamp[us]. The loader inspects the
  * footer once per version of the file and normalizes both to microsecond
  * TimestampType — the same value DuckDB sees, so oracle comparisons agree
  * to the microsecond either way.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  // One resolved relation per session and table file, like any metastore
  // or long-lived application would hold: re-building the DataFrame per
  // query re-lists the path and re-decodes parquet footers every time —
  // pure fixed cost × queries × tables. The memo checks the file's identity
  // on every call, so a rewritten table is re-read. The cached object is
  // the *analyzed logical relation only*; every query still plans, prunes,
  // and pushes filters against it independently (nothing is materialized).
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.memo(spark, "table", s"$dir/$name.parquet")(
      loadNormalized(spark, dir, name))

  /** Generic TIMESTAMP(NANOS) armor for EVERY table (the events-only round-5
    * lesson, generalized): driver testdata has shipped with nanosecond
    * timestamp columns before, and schema inference rejects them outright
    * ([PARQUET_TYPE_ILLEGAL]) — which would take down every query on the
    * affected table, not just the timestamp ones. The footer is decoded
    * once per version of the table file anyway for the relation memo; when
    * it declares top-level TIMESTAMP(NANOS) columns, the scan schema is built
    * with Spark's own converter in nanosAsLong mode (raw 8-byte longs —
    * no session-global legacy conf) and each such column is normalized to
    * microsecond TimestampType with exact integer division. Tables without
    * nanos columns (all current ones) take the plain inference path.
    */
  private def loadNormalized(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val msgType = footerSchema(spark, s"$dir/$name.parquet")
    val nanosCols = msgType.getFields.asScala.collect {
      case f if f.isPrimitive &&
        (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => f.getName
    }.toSeq
    if (nanosCols.isEmpty) spark.read.parquet(s"$dir/$name.parquet")
    else {
      val schema =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
          nanosAsLong = true)
          .convert(msgType)
      val raw = spark.read.schema(schema).parquet(s"$dir/$name.parquet")
      nanosCols.foldLeft(raw) { (df, c) =>
        df.withColumn(c, timestamp_micros(expr(s"`$c` DIV 1000")))
      }
    }
  }

  /** Footer of `path` (or, for a directory, of its lexicographically-first
    * part file — ASSUMPTION: all part files of one dataset share a schema,
    * which Spark's own writers guarantee; a hand-assembled dir mixing ts
    * encodings across part files would be classified from the first file
    * only). Empty/nested-only directories fail loudly here instead of as a
    * bare minBy UnsupportedOperationException.
    */
  private def footerMeta(spark: SparkSession,
                         path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(root).isDirectory) {
        val parts = fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet"))
        require(parts.nonEmpty, s"no .parquet files directly under $path")
        parts.minBy(_.getName)
      } else root
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  private def footerSchema(spark: SparkSession,
                           path: String): org.apache.parquet.schema.MessageType =
    footerMeta(spark, path).getFileMetaData.getSchema

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
  }

  /** Range-partition `df` on `keys` to default parallelism — but ONLY when
    * it currently has fewer partitions than cores (at test SF the parquet
    * files are single-row-group, so scans arrive as ONE task; on a cluster
    * a large scan has far more splits than cores and this is a no-op).
    *
    * Why range, not round-robin: RangePartitioning on k satisfies both the
    * clustered distribution of a downstream per-k aggregate/window and the
    * ordered distribution of a k-sorted output, so the one rescue exchange
    * replaces the aggregation exchange AND the presentation sort's range
    * exchange (its bound sampling included). The guard is what keeps this
    * scale-honest: when the scan is already parallel, a pre-aggregation
    * shuffle of raw rows would cost more than the partial-agg hash shuffle
    * it displaces, so the plan reverts to the classic
    * partial→exchange→final shape. Measured at sf0.1:
    * dedup_lineitem 0.86 → 0.48 s, latest_event_per_user 0.50 → 0.25 s,
    * minhash_signatures 0.64 → 0.31 s.
    *
    * Only worth it when the spread ELIDES at least one additional exchange
    * (an aggregate/window between it and the sort) or feeds genuinely
    * CPU-heavy per-row work: on map-only sort-terminated queries the sort's
    * range exchange already does everything this would, and the added
    * partition-count probe + sampling made batch_extract 0.26 → 0.33 s
    * (measured, reverted).
    *
    * PRECONDITION (enforced): the input must be scan-rooted — scans plus
    * per-row ops (filter/project/generate) only. The partition-count probe
    * reads `df.rdd`, which forces physical planning and, under AQE, would
    * eagerly MATERIALIZE any shuffle stage in the input (real jobs fired
    * from inside what looks like plan construction). Rather than trust
    * call-site discipline, the guard walks the logical plan: any
    * shuffle-inducing node (aggregate, join, window, sort, repartition, …)
    * skips the probe and returns the input unchanged — such a plan already
    * has an exchange to parallelize it, so the rescue has nothing to fix.
    */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    if (!scanRooted(df)) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartitionByRange(cores, keys: _*)
    else df
  }

  /** [[spread]] with HASH partitioning on the downstream aggregate's keys:
    * the repartition exchange then satisfies the groupBy's required
    * distribution, so the expensive aggregate compute parallelizes across
    * all cores WITHOUT a second shuffle. Same guard as spread — a no-op
    * whenever the scan already has core-count parallelism (multi-row-group
    * files at real scale), so the extra corpus shuffle exists only in the
    * single-row-group local case it fixes.
    */
  def spreadHash(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    if (!scanRooted(df)) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, keys: _*)
    else df
  }

  /** True iff the analyzed plan is scans + per-row operators only (no node
    * that could plan an exchange — so probing `.rdd` cannot run jobs).
    */
  private def scanRooted(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.collectFirst {
      case n if !(n.isInstanceOf[LeafNode] || n.isInstanceOf[Project] ||
                  n.isInstanceOf[Filter] || n.isInstanceOf[SubqueryAlias] ||
                  n.isInstanceOf[Generate]) => n
    }.isEmpty
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The three physical encodings `events.ts` has shipped in across driver
    * rounds, classified from the parquet footer's logical-type annotation
    * directly (no inference-exception games: a transient FS error here
    * PROPAGATES — the memo caches nothing on throw — instead of silently
    * routing to the wrong decode path):
    *
    *  - TIMESTAMP(MICROS/MILLIS, adjustedToUTC=true)  → Spark TimestampType
    *  - TIMESTAMP(MICROS, adjustedToUTC=false)        → Spark TimestampNTZType
    *  - TIMESTAMP(NANOS) / bare INT64                 → raw nanosecond longs
    *
    * Memoized per version of `events.parquet`, like the relation itself.
    */
  private sealed trait TsEnc
  private case object TsNative    extends TsEnc
  private case object TsNativeNtz extends TsEnc
  private case object TsNanos     extends TsEnc

  private def tsEncoding(spark: SparkSession, dir: String): TsEnc =
    GraftSession.memo(spark, "tsEncoding", s"$dir/events.parquet") {
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      val meta = footerMeta(spark, s"$dir/events.parquet")
      val schema = meta.getFileMetaData.getSchema
      val tsType = schema.getFields.get(schema.getFieldIndex("ts")).asPrimitiveType()
      tsType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS => TsNanos
        case t: TimestampLogicalTypeAnnotation if t.isAdjustedToUTC           => TsNative
        case _: TimestampLogicalTypeAnnotation                                => TsNativeNtz
        case _ if tsType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96     => TsNative
        case _ =>
          // un-annotated INT64: the reference's raw-nanos export — but an
          // epoch-seconds/millis/micros export would silently decode to
          // 1970-adjacent garbage under DIV 1000, so sanity-check the
          // magnitude against the footer's row-group max before committing
          // (epoch-nanos this century are ~1e18; micros ≤ ~4e15).
          requirePlausibleNanos(meta)
          TsNanos
      }
    }

  /** Fails loudly when row-group stats say an un-annotated INT64 `ts` cannot
    * be epoch-nanos. Stats-less files pass through on the pre-existing
    * assumption (the driver's own exports always carry stats).
    */
  private def requirePlausibleNanos(
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata): Unit = {
    val maxes = meta.getBlocks.asScala.flatMap { b =>
      b.getColumns.asScala.collect {
        case c if c.getPath.toDotString == "ts" &&
                  c.getStatistics != null && !c.getStatistics.isEmpty &&
                  c.getStatistics.hasNonNullValue =>
          c.getStatistics.genericGetMax match {
            case l: java.lang.Long => l.longValue
            case other => other.toString.toLong
          }
      }
    }
    maxes.reduceOption(math.max(_: Long, _: Long)).foreach { mx =>
      require(mx > 100000000000000000L, // 1e17 ns ≈ 1973; anything below is not epoch-nanos
        s"events.ts is un-annotated INT64 with row-group max $mx — implausible as " +
        "epoch-nanoseconds (expected ~1e18). Refusing the nanos decode; check the " +
        "file's actual time unit.")
    }
  }

  /** Explicit-schema read for the TIMESTAMP(NANOS) encoding: a user-supplied
    * LongType for the INT64 physical column reads fine without the legacy
    * conf, giving raw nanosecond longs.
    */
  private val eventsNanosSchema =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  private def eventsNanos(spark: SparkSession, dir: String): DataFrame =
    GraftSession.memo(spark, "events#nanos", s"$dir/events.parquet")(
      spark.read.schema(eventsNanosSchema).parquet(s"$dir/events.parquet"))

  private def nanosToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))

  /** NTZ → instant cast. Session TZ is pinned to UTC (GraftSession), so the
    * naive microsecond value IS the epoch-microsecond value — bit-identical
    * to what DuckDB reads from the same footer.
    */
  private def ntzToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))

  /** A TimestampNTZType literal for epoch-microsecond `micros` (UTC). */
  private def ntzLit(micros: Long): org.apache.spark.sql.Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  /** Full-width events scan in the file's on-disk shape — bench probe use
    * only (timing a scan-and-hash of every column).
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    tsEncoding(spark, dir) match {
      case TsNanos => eventsNanos(spark, dir)
      case _       => table(spark, dir, "events")
    }

  /** `events` with `ts` normalized to microsecond TimestampType. For nanos
    * files: integer division (never double math — ns magnitudes exceed 2^53)
    * keeps the truncation exact. NTZ files: a zero-cost reinterpret cast
    * (UTC session). Native micros files: the scan is already the right type
    * and stays untouched (full pushdown on ts).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    tsEncoding(spark, dir) match {
      case TsNative    => table(spark, dir, "events")
      case TsNativeNtz => ntzToTs(table(spark, dir, "events"))
      case TsNanos     => nanosToTs(eventsNanos(spark, dir))
    }

  /** Pushdown-friendly incremental scan (SURVEY §2.9 T1): the watermark is
    * applied in the column's on-disk unit AND type, so it reaches the
    * parquet reader as `GreaterThan(ts, …)` (row-group min/max skipping) — a
    * predicate on a derived/cast column would stay a post-scan DataFilter
    * and read every row group at 100 TB. Native micros: a foldable timestamp
    * literal compares directly. NTZ: an NTZ literal against the NTZ scan
    * column, cast applied only downstream of the filter. Nanos:
    * `ns > 1000·W_µs + 999` is exactly `trunc(ns/1000) > W_µs`, so results
    * match the normalized-column filter.
    */
  def eventsSinceMicros(spark: SparkSession, dir: String, watermarkMicros: Long): DataFrame =
    tsEncoding(spark, dir) match {
      case TsNative =>
        table(spark, dir, "events").filter(col("ts") > timestamp_micros(lit(watermarkMicros)))
      case TsNativeNtz =>
        ntzToTs(table(spark, dir, "events").filter(col("ts") > ntzLit(watermarkMicros)))
      case TsNanos =>
        nanosToTs(eventsNanos(spark, dir)
          .filter(col("ts") > lit(watermarkMicros * 1000L + 999L)))
    }
}
