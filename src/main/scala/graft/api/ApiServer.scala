package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JString, JInt}
import org.json4s.jackson.JsonMethods

import graft.LedgerPipeline
import graft.sources.BronzeSource

/** The query-serving surface — route-for-route parity with the reference's
  * REST API (`/root/reference/api/src/main.rs:32-38`):
  *
  *   - `GET  /health`                  → `OK`
  *   - `POST /v1/ingest`               → fetch wallet history → bronze
  *   - `POST /v1/normalize`            → bronze → silver ledger
  *   - `GET  /v1/transactions/:wallet` → bronze rows, oldest-first, JSON
  *   - `GET  /v1/ledger/:wallet`       → ledger entries, JSON
  *   - `GET  /v1/query/:name`          → any declared `SparkEntry`
  *     analytics query over the configured `tablesDir` (beyond-parity:
  *     the whole operator surface served by name, row-capped)
  *
  * Built on the JDK's `com.sun.net.httpserver` (zero added dependencies)
  * over [[graft.LedgerPipeline]] — every route IS the corresponding library
  * call, so ApiSpec can assert route results equal library results.
  *
  * Serving model: the reference materializes a `Vec` per request
  * (repo.rs:73-149); here each GET collects one wallet's rows — bounded by
  * per-wallet history, the same contract. The heavy lifting (bucket prune +
  * pushed wallet filter) happens in the Spark plan; the driver only relays
  * the already-small result. Writes go through [[graft.operators
  * .IdempotentSink]], so POSTs are replay-safe like the reference's
  * ON-CONFLICT-DO-NOTHING inserts (repo.rs:26,56). The ingest row cap
  * mirrors the reference's "hardcoded limit for API safety"
  * (main.rs:74-76).
  */
final class ApiServer(spark: SparkSession, source: BronzeSource,
    bronzePath: String, silverPath: String, port: Int = 0,
    ingestLimit: Int = 50, tablesDir: Option[String] = None,
    queryRowCap: Int = 1000) {

  @volatile private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Serializes `/v1/query` request handling: a handful of declared
    * queries write fixed-location layout artifacts as part of their plan
    * (OracleAux signature tables — disabled below — and the bucketed-
    * PageRank catalog tables), so two concurrent GETs constructing the
    * same query could race on those overwrites and serve wrong results.
    * An HTTP result page is not a throughput path; one-at-a-time is the
    * correct contract (the reference serves one materialized Vec per
    * request too, repo.rs:73-149).
    */
  private val queryLock = new Object

  /** Start and return the bound port (`port = 0` picks an ephemeral one). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    // Serving-only process: query construction must never clobber the
    // oracle artifacts a pending Verify→DuckDB comparison reads (the same
    // rule Explain/PlanAudit/QueryBench apply).
    graft.tools.OracleAux.enabled = false
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // small fixed pool: requests run Spark driver-side actions, and the
    // session is shared — bounded concurrency, not per-request threads
    pool = Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r)
      t.setName(s"${ApiServer.ThreadPrefix}${t.getId}")
      t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Stop serving and shut the request pool down. The pool's threads are
    * non-daemon, so a server left running would keep its JVM alive; after
    * `stop()` returns, in-flight requests have had up to 30 s to finish.
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      server = null
      pool.shutdown()
      pool.awaitTermination(30, TimeUnit.SECONDS)
      pool = null
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    try {
      (method, path) match {
        case ("GET", "/health") =>
          respond(ex, 200, "OK", "text/plain")
        case ("POST", "/v1/ingest") =>
          val body = JsonMethods.parse(readBody(ex))
          val wallet = strField(body, "wallet")
          // clamp BOTH sides: negative/zero and BigInt-overflow limits are
          // rejected, not wrapped past the "hardcoded limit for API
          // safety" contract (main.rs:74-76)
          val limit = body \ "limit" match {
            case JInt(n) if n <= 0 =>
              throw new IllegalArgumentException(s"limit must be positive: $n")
            case JInt(n) => n.min(BigInt(ingestLimit)).toInt
            case _       => ingestLimit
          }
          val n = LedgerPipeline.ingest(spark, source, wallet, limit, bronzePath)
          respond(ex, 200, s""""Ingested $n transactions"""", "application/json")
        case ("POST", "/v1/normalize") =>
          val wallet = strField(JsonMethods.parse(readBody(ex)), "wallet")
          val n = LedgerPipeline.normalize(spark, bronzePath, wallet, silverPath)
          respond(ex, 200, s""""Normalized $n ledger entries"""", "application/json")
        case ("GET", Wallet("transactions", wallet)) =>
          respondRows(ex, LedgerPipeline.transactions(spark, bronzePath, wallet))
        case ("GET", Wallet("ledger", wallet)) =>
          respondRows(ex, LedgerPipeline.ledger(spark, silverPath, wallet))
        case ("GET", Wallet("query", name)) =>
          // beyond reference parity: the ENTIRE declared analytics
          // surface served by name over the configured star-schema dir.
          // Row-capped: an HTTP response is a result page, not an export
          // path (exports go through the library/CLI sinks).
          (tablesDir, graft.SparkEntry.queries.get(name)) match {
            case (Some(dir), Some(fn)) =>
              queryLock.synchronized {
                respondRows(ex, fn(spark, dir).limit(queryRowCap))
              }
            case (None, _) =>
              respond(ex, 404, """{"error":"no tablesDir configured"}""",
                "application/json")
            case (_, None) =>
              respond(ex, 404, errorJson(s"unknown query: $name"),
                "application/json")
          }
        case _ =>
          respond(ex, 404, """{"error":"not found"}""", "application/json")
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, errorJson(e.getMessage), "application/json")
      case e: Throwable =>
        // the reference logs and 500s (main.rs:77-80); same here
        System.err.println(s"[api] $method $path failed: ${e.getMessage}")
        respond(ex, 500, """{"error":"internal"}""", "application/json")
    } finally ex.close()
  }

  /** `/v1/<route>/<wallet>` extractor; wallet must be non-empty and flat. */
  private object Wallet {
    def unapply(path: String): Option[(String, String)] =
      path.split('/') match {
        case Array("", "v1", route, w) if w.nonEmpty => Some((route, w))
        case _                                       => None
      }
  }

  /** Error payload with the message SERIALIZED, not interpolated — parser
    * errors echo request bodies and URL paths decode percent-encoded
    * quotes, so raw interpolation would emit invalid JSON and let a caller
    * inject response-body structure.
    */
  private def errorJson(msg: String): String =
    JsonMethods.compact(JsonMethods.render(
      org.json4s.JObject("error" -> JString(if (msg == null) "" else msg))))

  private def strField(jv: org.json4s.JValue, name: String): String =
    jv \ name match {
      case JString(s) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException(s"missing field: $name")
    }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** One wallet's rows as a JSON array — `toJSON` reuses Spark's own
    * row→JSON codegen (consistent types/encodings with the JSONL sink).
    * A table that has never been written serves `[]`, not an error: the
    * reference's migrations create its tables empty, so a fresh
    * deployment's GETs return empty lists (repo.rs reads over empty
    * tables) — path-missing here is the same "nothing ingested yet"
    * state.
    *
    * STREAMED, not collected: rows flow through `toLocalIterator` into a
    * chunked HTTP response, so driver memory holds one partition at a
    * time, never the whole result — the row cap on `/v1/query` stays a
    * politeness default rather than a memory-safety requirement, and a
    * config raising it cannot OOM the driver. (Plan resolution errors
    * surface before the first byte is written; a mid-stream task failure
    * can only truncate the stream, which chunked encoding reports to the
    * client as an aborted transfer, not a valid short array.)
    */
  private def respondRows(ex: HttpExchange, df: => DataFrame): Unit = {
    val it =
      try df.toJSON.toLocalIterator()
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          respond(ex, 200, "[]", "application/json")
          return
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0L) // 0 = chunked transfer encoding
    val out = ex.getResponseBody
    out.write('[')
    var firstRow = true
    while (it.hasNext) {
      if (!firstRow) out.write(',')
      firstRow = false
      out.write(it.next().getBytes(StandardCharsets.UTF_8))
    }
    out.write(']')
    out.close()
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}

object ApiServer {

  /** Name prefix of the request-pool threads. */
  private[graft] val ThreadPrefix = "graft-api-"
}
