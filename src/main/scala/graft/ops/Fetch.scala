package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Outcome of one document fetch: success XOR error as real columns — the
  * engine replaces the reference's `'Failed:'` string-prefix error channel
  * (db.py:366) with a typed two-column result.
  */
case class FetchResult(replay_id: String, attempts: Int,
                       payload: Option[String], error: Option[String])

/** S2 — effectful per-document fetch (reference `api.py:44-99`): bounded
  * retries with exponential backoff, non-retryable classification
  * (401/403/404 never retry, api.py:88-90), executed as `mapPartitions` so a
  * connection-pooled client initializes once per partition and the fan-out is
  * partition parallelism (the reference's 5-thread ThreadPoolExecutor,
  * download.py:115,177-213, becomes `repartition(n)`).
  *
  * The transport is injected (`(id, attempt) => Either[(message, retryable),
  * payload]`): [[HttpTransport.forUrl]] is the production HTTP client
  * (exercised in FetchTopKSpec against a live in-process server — retries,
  * backoff, and non-retryable classes verified over a real socket); the
  * oracle'd catalog entry keeps a deterministic simulator so results stay
  * hash-comparable.
  */
/** Production HTTP transport for [[Fetch.fetchAll]] (reference
  * `api.py:31,58-63,88-90`): GET `urlFor(id)` with the reference's timeout
  * profile (3.05 s connect / 20 s read) and its status classification —
  * 2xx ⇒ payload; 401/403/404 ⇒ non-retryable (a missing or forbidden
  * replay never resolves by retrying); every other status, timeout, or
  * connect error ⇒ retryable, feeding [[Fetch.fetchAll]]'s bounded
  * exponential backoff.
  *
  * The `HttpClient` is a per-JVM lazy singleton (thread-safe, pooled
  * connections), so every task on an executor shares one client — the
  * returned transport closure captures only the pure `urlFor` function and
  * the timeout, never the client itself, and stays serializable.
  */
object HttpTransport {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(3050))
      .build()

  def forUrl(urlFor: String => String, readTimeoutMs: Long = 20000L)
      : (String, Int) => Either[(String, Boolean), String] =
    (id, _) => get(urlFor(id), readTimeoutMs)

  /** One classified GET — the shared primitive behind [[forUrl]] and the
    * discovery page walk's network page function
    * ([[graft.sources.PagedReplaySource.httpPage]]).
    */
  def get(url: String, readTimeoutMs: Long = 20000L)
      : Either[(String, Boolean), String] =
    try {
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(readTimeoutMs))
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() match {
        case ok if ok >= 200 && ok < 300 => Right(resp.body())
        case nr @ (401 | 403 | 404)      => Left((s"HTTP $nr", false))
        case other                        => Left((s"HTTP $other", true))
      }
    } catch {
      case e: java.net.http.HttpTimeoutException =>
        Left((s"timeout: ${e.getMessage}", true))
      case scala.util.control.NonFatal(e) =>
        Left((s"${e.getClass.getSimpleName}: ${e.getMessage}", true))
    }
}

object Fetch {

  def fetchAll(spark: SparkSession, ids: DataFrame,
               transport: (String, Int) => Either[(String, Boolean), String],
               maxAttempts: Int = 3, baseBackoffMs: Long = 0L): Dataset[FetchResult] = {
    import spark.implicits._
    ids.select("replay_id").as[String].mapPartitions { it =>
      // per-partition client/warm-up would happen here (pooled connections)
      it.map { id =>
        val (attempts, outcome) = withRetry(maxAttempts, baseBackoffMs)(transport(id, _))
        FetchResult(id, attempts, outcome.toOption, outcome.left.toOption)
      }
    }
  }

  /** Bounded retry with exponential backoff: calls `attempt(n)` for
    * n = 1, 2, … until it succeeds, fails non-retryably, or has made
    * `maxAttempts` calls, sleeping `baseBackoffMs · 2^(n-1)` after each
    * retryable failure (0.1·2^k s in the reference, api.py:73-74). Returns
    * the number of calls made and the last outcome's payload or message.
    */
  def withRetry[A](maxAttempts: Int, baseBackoffMs: Long)(
      attempt: Int => Either[(String, Boolean), A]): (Int, Either[String, A]) = {
    @annotation.tailrec
    def go(n: Int): (Int, Either[String, A]) = attempt(n) match {
      case Right(a) => (n, Right(a))
      case Left((msg, retryable)) if !retryable || n >= maxAttempts => (n, Left(msg))
      case Left(_) =>
        if (baseBackoffMs > 0) Thread.sleep(baseBackoffMs << (n - 1))
        go(n + 1)
    }
    go(1)
  }
}
