package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 model of the reference's paginated replay-search scan
  * (SURVEY §2.1 S1; reference `api.py:13-42` + `tasks/discovery.py:64-114`):
  * pages of ≤ `pageSize` rows in *descending* `uploadtime`, cursor = the
  * previous page's oldest timestamp, a short page ⇒ end of stream.
  *
  * The reference walks pages serially on one thread; as a V2 `Batch` source
  * each page is an `InputPartition`, so discovery parallelizes across
  * executors — page boundaries are pure functions of (cursor, pageSize), no
  * shared state. The HTTP GET is replaced by a deterministic synthetic
  * generator (zero-egress environment); a real deployment would issue the
  * request inside [[PageReader]] with per-partition retry/backoff exactly
  * where the generator runs (reference `api.py:44-99` semantics).
  *
  * Early termination (`discovery.py:108`, short page ⇒ stop) surfaces as
  * [[SupportsPushDownLimit]]: `LIMIT n` plans only ⌈n/pageSize⌉ pages.
  *
  * The scan reports its row count (`total` after limit pushdown) and a size
  * of rows × the schema's default row width. Without it the planner sees
  * Spark's default 8 EiB, and every join over discovery output — including
  * its local checkpoints, which keep the origin plan's estimate — is
  * planned as a sort-merge join that adaptive execution turns into a
  * broadcast only after both sides were shuffled.
  *
  * Options: `format` (stream key), `total` (rows available), `pageSize`
  * (default 51), `endTs` (newest uploadtime, default 1704067200).
  */
class PagedReplaySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "paged-replays"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PagedReplayTable(new CaseInsensitiveStringMap(properties))
}

object PagedReplaySource {
  val schema: StructType = StructType(Seq(
    StructField("replay_id", StringType, nullable = false),
    StructField("format_id", StringType, nullable = false),
    StructField("uploadtime", LongType, nullable = false),
    StructField("players", StringType, nullable = false)))

  /** Deterministic stand-in for one fetched row (the HTTP payload). */
  def row(format: String, endTs: Long, idx: Long): (String, String, Long, String) = {
    val uploadtime = endTs - idx * 37L // strictly descending, gappy
    val id = s"$format-${uploadtime}"
    val p1 = s"p${(idx * 7919) % 1000}"; val p2 = s"p${(idx * 104729) % 1000}"
    (id, format, uploadtime, s"$p1 vs $p2")
  }
}

class PagedReplayTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"paged_replays(${options.getOrDefault("format", "gen9ou")})"
  override def schema(): StructType = PagedReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new PagedReplayScanBuilder(
      options.getOrDefault("format", "gen9ou"),
      options.getOrDefault("total", "1000").toLong,
      options.getOrDefault("pageSize", "51").toInt,
      options.getOrDefault("endTs", "1704067200").toLong,
      options.getOrDefault("maxPagesPerTrigger", "5").toInt,
      Option(options.get("baseUrl")))
}

class PagedReplayScanBuilder(format: String, var total: Long, pageSize: Int,
                             endTs: Long, maxPagesPerTrigger: Int,
                             baseUrl: Option[String] = None)
    extends ScanBuilder with SupportsPushDownLimit {
  // T3 early termination: LIMIT n ⇒ fetch only the first ⌈n/pageSize⌉ pages.
  override def pushLimit(limit: Int): Boolean = {
    total = math.min(total, limit.toLong)
    true
  }
  override def build(): Scan =
    new PagedReplayScan(format, total, pageSize, endTs, maxPagesPerTrigger,
                        baseUrl)
}

class PagedReplayScan(format: String, total: Long, pageSize: Int, endTs: Long,
                      maxPagesPerTrigger: Int, baseUrl: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = PagedReplaySource.schema
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): util.OptionalLong = util.OptionalLong.of(total)
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(total * PagedReplaySource.schema.defaultSize)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"paged-replays format=$format total=$total pageSize=$pageSize"

  /** Streaming face (SURVEY §2.9 T1/T3/T6): the micro-batch offset is the
    * page cursor; `latestOffset` advances at most `maxPagesPerTrigger` pages
    * per trigger (the reference's `max_pages` run cap / pacing,
    * constants.py:26, discovery.py:78-79) and stops advancing at the last
    * page — offset exhaustion is the short-page end-of-stream signal.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    baseUrl match {
      case Some(url) =>
        new LivePagedMicroBatchStream(url, format, pageSize, maxPagesPerTrigger)
      case None =>
        new PagedReplayMicroBatchStream(format, total, pageSize, endTs, maxPagesPerTrigger)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val nPages = ((total + pageSize - 1) / pageSize).toInt
    (0 until nPages).map { p =>
      val start = p.toLong * pageSize
      PagePartition(format, endTs, start, math.min(start + pageSize, total))
        .asInstanceOf[InputPartition]
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PageReader(partition.asInstanceOf[PagePartition])
    }
}

/** Page-cursor offset: number of pages fully served. */
case class PageOffset(page: Long) extends Offset {
  override def json(): String = s"""{"page":$page}"""
}

class PagedReplayMicroBatchStream(format: String, total: Long, pageSize: Int,
                                  endTs: Long, maxPagesPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val nPages: Long = (total + pageSize - 1) / pageSize

  override def initialOffset(): Offset = PageOffset(0L)

  /** Throttled advance is a pure function of the *checkpointed* start offset
    * (SupportsAdmissionControl) — mutable internal cursors regress behind the
    * committed offset after a restart and re-deliver pages.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    PageOffset(math.min(start.asInstanceOf[PageOffset].page + maxPagesPerTrigger, nPages))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = PageOffset(nPages)
  // unthrottled path (not used when SupportsAdmissionControl is present)
  override def latestOffset(): Offset = PageOffset(nPages)

  override def deserializeOffset(json: String): Offset =
    PageOffset("""\d+""".r.findFirstIn(json).get.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset].page
    val e = end.asInstanceOf[PageOffset].page
    (s until e).map { p =>
      val lo = p * pageSize
      PagePartition(format, endTs, lo, math.min(lo + pageSize, total))
        .asInstanceOf[InputPartition]
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PageReader(partition.asInstanceOf[PagePartition])
    }
}

/** Live-network streaming discovery (SURVEY §2.9 T1/T2/T3/T6 over a REAL
  * socket — the reference's continuous page walk, `api.py:13-42` +
  * `discovery.py:64-114`, as a Structured Streaming source): GET
  * `baseUrl?format=F[&before=TS]` returns a JSON array of replay objects
  * in descending `uploadtime`; the cursor for the next page is the
  * previous page's oldest `uploadtime`, and a SHORT page (< pageSize rows)
  * means the stream is exhausted — `latestOffset` then stops advancing,
  * which under `Trigger.AvailableNow` ends the run (T3).
  *
  * Offsets are self-contained `{"page":N,"before":TS}` pairs, so a
  * restarted query re-walks from the COMMITTED cursor, never from page 0
  * (the checkpointed high-watermark, T1/T4); `before`-cursor pagination
  * over past data is replay-stable on the reference API (new uploads land
  * ABOVE any committed cursor, T2's reverse-cursor argument).
  *
  * Shape note: the cursor chain is inherently SEQUENTIAL — page N+1's
  * request cannot be formed until page N's oldest row is known — so the
  * driver walks pages (one classified GET per page via
  * [[graft.ops.HttpTransport.get]], 3 attempts with the reference's
  * backoff), and each ≤ pageSize-row page rides its `InputPartition` to
  * the executors rather than being fetched twice. Per-trigger admission is
  * bounded (`maxPagesPerTrigger` × pageSize rows — the reference's
  * `max_pages` cap), so the driver never holds more than the admitted
  * pages; fan-out happens downstream where the real work is (S2 fetches,
  * parses, sinks). This matches the reference's own single-threaded
  * discovery walk while distributing everything after it.
  */
class LivePagedMicroBatchStream(baseUrl: String, format: String,
                                pageSize: Int, maxPagesPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  import LivePagedMicroBatchStream._

  // cursor cache: page index → the `before` cursor that REQUESTS that page
  // (page 0 has no cursor); rebuilt lazily from a committed offset after
  // restart. Driver-only state, bounded by the walked page count.
  private val cursors = scala.collection.mutable.Map[Long, Option[Long]](0L -> None)
  private val bodies = scala.collection.mutable.Map[Long, Array[ReplayRow]]()
  @volatile private var endPage: Option[Long] = None

  override def initialOffset(): Offset = LivePageOffset(0L, None)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LivePageOffset]
    ensureCursor(s)
    var page = s.page
    var fetched = 0
    while (fetched < maxPagesPerTrigger && endPage.forall(page < _)) {
      val rows = pageRows(page)
      if (rows.length < pageSize) endPage = Some(page + (if (rows.isEmpty) 0 else 1))
      if (rows.nonEmpty) { page += 1; fetched += 1 } // advance past non-empty pages
      if (rows.length < pageSize) fetched = maxPagesPerTrigger // short ⇒ stop walking
    }
    LivePageOffset(page, cursors.getOrElse(page, None).orElse(s.before))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = null
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")

  override def deserializeOffset(json: String): Offset = LivePageOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LivePageOffset]
    val e = end.asInstanceOf[LivePageOffset]
    ensureCursor(s)
    (s.page until e.page).map { p =>
      LivePagePartition(pageRows(p)).asInstanceOf[InputPartition]
    }.toArray
  }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[LivePageOffset].page
    bodies.keys.filter(_ < e).toSeq.foreach(bodies.remove) // committed pages drop
  }
  override def stop(): Unit = ()

  /** After a restart the cursor map is empty — seed it from the offset's
    * self-contained cursor so the walk resumes at the committed page.
    */
  private def ensureCursor(o: LivePageOffset): Unit =
    if (!cursors.contains(o.page)) cursors(o.page) = o.before

  /** Fetch (or reuse) one page by its cached cursor, recording the NEXT
    * page's cursor (= this page's oldest uploadtime).
    */
  private def pageRows(page: Long): Array[ReplayRow] =
    bodies.getOrElseUpdate(page, {
      val before = cursors.getOrElse(page,
        throw new IllegalStateException(s"no cursor for page $page — " +
          "pages must be walked in order from a committed offset"))
      val url = s"$baseUrl?format=$format" + before.map(b => s"&before=$b").getOrElse("")
      val body = getWithRetry(url)
      val rows = parsePage(body)
      if (rows.nonEmpty) cursors(page + 1) = Some(rows.map(_.uploadtime).min)
      rows
    })

  private def getWithRetry(url: String, maxAttempts: Int = 3): String = {
    var attempt = 0
    while (true) {
      attempt += 1
      graft.ops.HttpTransport.get(url) match {
        case Right(body) => return body
        case Left((msg, retryable)) =>
          if (!retryable || attempt >= maxAttempts)
            throw new java.io.IOException(s"page fetch failed ($url): $msg")
          Thread.sleep(100L << (attempt - 1)) // the reference's 0.1·2^k backoff
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new LivePageReader(partition.asInstanceOf[LivePagePartition])
    }
}

object LivePagedMicroBatchStream {
  case class ReplayRow(id: String, format: String, uploadtime: Long, players: String)

  /** Parse one search page: a JSON array of replay objects with `id`,
    * `format`, `uploadtime`, `players` (the reference search payload,
    * api.py:31-42). Jackson is Spark's bundled JSON stack.
    */
  def parsePage(body: String): Array[ReplayRow] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(body)
    require(root.isArray, s"expected a JSON array page, got: ${body.take(80)}")
    (0 until root.size).map { i =>
      val o = root.get(i)
      ReplayRow(o.get("id").asText(), o.get("format").asText(),
                o.get("uploadtime").asLong(), o.get("players").asText())
    }.toArray
  }
}

/** Self-contained live offset: pages fully served + the cursor that
  * requests the NEXT page (None = page 0 / unknown-yet).
  */
case class LivePageOffset(page: Long, before: Option[Long]) extends Offset {
  override def json(): String =
    s"""{"page":$page${before.map(b => s""","before":$b""").getOrElse("")}}"""
}

object LivePageOffset {
  def fromJson(json: String): LivePageOffset = {
    val page = """"page":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    val before = """"before":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    LivePageOffset(page, before)
  }
}

/** One live page riding to the executors (≤ pageSize rows — driver-small
  * by the admission bound).
  */
case class LivePagePartition(rows: Array[LivePagedMicroBatchStream.ReplayRow])
    extends InputPartition

class LivePageReader(p: LivePagePartition) extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < p.rows.length }
  override def get(): InternalRow = {
    val r = p.rows(i)
    InternalRow(UTF8String.fromString(r.id), UTF8String.fromString(r.format),
                r.uploadtime, UTF8String.fromString(r.players))
  }
  override def close(): Unit = ()
}

/** One API page: rows [start, end) of the descending-uploadtime stream. */
case class PagePartition(format: String, endTs: Long, start: Long, end: Long)
    extends InputPartition

class PageReader(p: PagePartition) extends PartitionReader[InternalRow] {
  private var i = p.start - 1
  override def next(): Boolean = { i += 1; i < p.end }
  override def get(): InternalRow = {
    val (id, fmt, ts, players) = PagedReplaySource.row(p.format, p.endTs, i)
    InternalRow(UTF8String.fromString(id), UTF8String.fromString(fmt),
                ts, UTF8String.fromString(players))
  }
  override def close(): Unit = ()
}
