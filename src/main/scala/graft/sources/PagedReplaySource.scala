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
  * Every read is one page walk over a page function `before ⇒ Page`, the
  * way [[graft.ops.Fetch.fetchAll]] takes its transport. With `baseUrl` the
  * function is a classified HTTP GET of the reference search API
  * ([[PagedReplaySource.httpPage]]); otherwise it is a deterministic
  * synthetic API ([[PagedReplaySource.syntheticPage]]) whose page is an
  * index range generated on the executors and whose next cursor is
  * arithmetic. The batch scan walks every page and serves each as one
  * `InputPartition`; the stream ([[PagedMicroBatchStream]]) walks at most
  * `maxPagesPerTrigger` pages per trigger. The network API is stream-only:
  * a batch read with `baseUrl` fails.
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
  * (default 51), `endTs` (newest uploadtime, default 1704067200),
  * `maxPagesPerTrigger` (default 5), `baseUrl` (stream from the network).
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

  case class ReplayRow(id: String, format: String, uploadtime: Long, players: String)

  /** Seconds between consecutive synthetic uploads. */
  private val Gap = 37L

  /** Deterministic stand-in for one fetched row (the HTTP payload). */
  def row(format: String, endTs: Long, idx: Long): ReplayRow = {
    val uploadtime = endTs - idx * Gap // strictly descending, gappy
    val p1 = s"p${(idx * 7919) % 1000}"; val p2 = s"p${(idx * 104729) % 1000}"
    ReplayRow(s"$format-$uploadtime", format, uploadtime, s"$p1 vs $p2")
  }

  /** One page of the search API: the partition that serves its rows, its
    * row count, and the cursor that requests the next page (None when the
    * page is empty).
    */
  case class Page(partition: InputPartition, rows: Int, next: Option[Long])

  /** The synthetic API: the `pageSize` rows of `total` below cursor
    * `before`, as an index range (`uploadtime = endTs − 37·idx`).
    */
  def syntheticPage(format: String, total: Long, pageSize: Int, endTs: Long)(
      before: Option[Long]): Page = {
    val start = before.fold(0L)(b => math.max(0L, Math.floorDiv(endTs - b, Gap) + 1))
    val end = math.max(start, math.min(start + pageSize, total))
    Page(PagePartition(format, endTs, start, end), (end - start).toInt,
         if (end > start) Some(endTs - (end - 1) * Gap) else None)
  }

  /** The reference search API: GET `baseUrl?format=F[&before=TS]` returns
    * a JSON array of replay objects in descending `uploadtime`. One
    * classified GET ([[graft.ops.HttpTransport.get]]) under
    * [[graft.ops.Fetch.withRetry]] (3 attempts, the reference's 0.1·2^k s
    * backoff); the final failure throws. The page's rows ride its
    * partition to the executors rather than being fetched twice.
    */
  def httpPage(baseUrl: String, format: String)(before: Option[Long]): Page = {
    val url = s"$baseUrl?format=$format" + before.map(b => s"&before=$b").getOrElse("")
    val body = graft.ops.Fetch.withRetry(maxAttempts = 3, baseBackoffMs = 100L)(
        _ => graft.ops.HttpTransport.get(url))._2
      .fold(msg => throw new java.io.IOException(s"page fetch failed ($url): $msg"),
            identity)
    val rows = parsePage(body)
    Page(FetchedPagePartition(rows), rows.length, rows.map(_.uploadtime).minOption)
  }

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
  // a page of zero rows is full, so the walk would never end
  require(pageSize > 0, s"pageSize must be positive, got $pageSize")
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
  import PagedReplaySource._

  override def readSchema(): StructType = schema
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): util.OptionalLong = util.OptionalLong.of(total)
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(total * schema.defaultSize)
  }
  override def toBatch: Batch = {
    require(baseUrl.isEmpty, "paged-replays: the baseUrl option reads the network API, " +
      "which is stream-only; use spark.readStream, or drop baseUrl for the synthetic API")
    this
  }
  override def description(): String =
    s"paged-replays format=$format total=$total pageSize=$pageSize"

  private val page: Option[Long] => Page = baseUrl match {
    case Some(url) => httpPage(url, format)
    case None      => syntheticPage(format, total, pageSize, endTs)
  }

  /** Streaming face (SURVEY §2.9 T1/T3/T6): the same page function, walked
    * at most `maxPagesPerTrigger` pages per trigger.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PagedMicroBatchStream(page, pageSize, maxPagesPerTrigger)

  /** Every page up to the first short one, each as one partition. */
  override def planInputPartitions(): Array[InputPartition] = {
    val (full, rest) = Iterator.iterate(page(None))(p => page(p.next))
      .span(_.rows == pageSize)
    (full ++ rest.take(1).filter(_.rows > 0)).map(_.partition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = PageReaderFactory
}

/** The micro-batch page walk (SURVEY §2.9 T1/T2/T3/T6 — the reference's
  * continuous page walk, `api.py:13-42` + `discovery.py:64-114`, as a
  * Structured Streaming source). `latestOffset` walks at most
  * `maxPagesPerTrigger` pages per trigger (the reference's `max_pages` run
  * cap, constants.py:26, discovery.py:78-79); a SHORT page (< pageSize
  * rows) means the stream is exhausted — `latestOffset` then stops
  * advancing, which under `Trigger.AvailableNow` ends the run (T3).
  *
  * Offsets are self-contained `{"page":N,"before":TS}` pairs and the walk
  * is a function of the *checkpointed* start offset (admission control),
  * so a restarted query re-walks from the COMMITTED cursor, never from
  * page 0 (the checkpointed high-watermark, T1/T4); `before`-cursor
  * pagination over past data is replay-stable on the reference API (new
  * uploads land ABOVE any committed cursor, T2's reverse-cursor argument).
  *
  * The cursor chain is SEQUENTIAL — page N+1's request cannot be formed
  * until page N's oldest row is known — so the driver walks pages, and
  * each walked page is kept until its offset commits, so planning never
  * requests it twice. The driver never holds more than the admitted pages;
  * fan-out happens downstream where the real work is (S2 fetches, parses,
  * sinks).
  */
class PagedMicroBatchStream(page: Option[Long] => PagedReplaySource.Page,
                            pageSize: Int, maxPagesPerTrigger: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  // cursor cache: page index → the `before` cursor that REQUESTS that page
  // (page 0 has no cursor); rebuilt lazily from a committed offset after
  // restart. Driver-only state, bounded by the walked page count.
  private val cursors = scala.collection.mutable.Map[Long, Option[Long]](0L -> None)
  private val pages = scala.collection.mutable.Map[Long, PagedReplaySource.Page]()
  @volatile private var endPage: Option[Long] = None

  override def initialOffset(): Offset = PageOffset(0L, None)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[PageOffset]
    ensureCursor(s)
    var p = s.page
    var fetched = 0
    while (fetched < maxPagesPerTrigger && endPage.forall(p < _)) {
      val rows = pageAt(p).rows
      if (rows < pageSize) endPage = Some(p + (if (rows == 0) 0 else 1))
      if (rows > 0) { p += 1; fetched += 1 } // advance past non-empty pages
      if (rows < pageSize) fetched = maxPagesPerTrigger // short ⇒ stop walking
    }
    PageOffset(p, cursors.getOrElse(p, None).orElse(s.before))
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = null
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source")

  override def deserializeOffset(json: String): Offset = PageOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset]
    ensureCursor(s)
    (s.page until end.asInstanceOf[PageOffset].page).map(pageAt(_).partition).toArray
  }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[PageOffset].page
    pages.keys.filter(_ < e).toSeq.foreach(pages.remove) // committed pages drop
  }
  override def stop(): Unit = ()

  /** After a restart the cursor map is empty — seed it from the offset's
    * self-contained cursor so the walk resumes at the committed page.
    */
  private def ensureCursor(o: PageOffset): Unit =
    if (!cursors.contains(o.page)) cursors(o.page) = o.before

  /** Request (or reuse) one page by its cached cursor, recording the NEXT
    * page's cursor (= this page's oldest uploadtime).
    */
  private def pageAt(p: Long): PagedReplaySource.Page =
    pages.getOrElseUpdate(p, {
      val before = cursors.getOrElse(p,
        throw new IllegalStateException(s"no cursor for page $p — " +
          "pages must be walked in order from a committed offset"))
      val pg = page(before)
      pg.next.foreach(c => cursors(p + 1) = Some(c))
      pg
    })

  override def createReaderFactory(): PartitionReaderFactory = PageReaderFactory
}

/** Self-contained offset: pages fully served + the cursor that requests
  * the NEXT page (None only at page 0).
  */
case class PageOffset(page: Long, before: Option[Long]) extends Offset {
  override def json(): String =
    s"""{"page":$page${before.map(b => s""","before":$b""").getOrElse("")}}"""
}

object PageOffset {
  def fromJson(json: String): PageOffset = {
    val page = """"page":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    val before = """"before":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
    // a page past 0 without its cursor cannot be resumed: it would re-walk
    // from the newest row
    require(page == 0 || before.isDefined, s"offset without a cursor: $json")
    PageOffset(page, before)
  }
}

/** One synthetic page: rows [start, end) of the descending-uploadtime
  * stream, generated on the executor.
  */
case class PagePartition(format: String, endTs: Long, start: Long, end: Long)
    extends InputPartition

/** One fetched page riding to the executors (≤ pageSize rows). */
case class FetchedPagePartition(rows: Array[PagedReplaySource.ReplayRow])
    extends InputPartition

object PageReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PageReader(partition match {
      case PagePartition(format, endTs, start, end) =>
        Iterator.range(start, end).map(PagedReplaySource.row(format, endTs, _))
      case FetchedPagePartition(rows) => rows.iterator
    })
}

class PageReader(rows: Iterator[PagedReplaySource.ReplayRow])
    extends PartitionReader[InternalRow] {
  private var current: InternalRow = _
  override def next(): Boolean = rows.hasNext && {
    val r = rows.next()
    current = InternalRow(UTF8String.fromString(r.id), UTF8String.fromString(r.format),
                          r.uploadtime, UTF8String.fromString(r.players))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
