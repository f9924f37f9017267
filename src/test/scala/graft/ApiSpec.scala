package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.analytics.LedgerQueries
import graft.api.ApiServer
import graft.sources.{JsonlBronzeSink, JsonlBronzeSource}

/** The served surface equals the library surface: every route's payload is
  * checked against the corresponding [[LedgerPipeline]] call on the same
  * tables (reference parity: api/src/main.rs:32-38).
  */
class ApiSpec extends SparkSpec {

  private def http(req: HttpRequest): HttpResponse[String] =
    HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String): HttpResponse[String] =
    http(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    http(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  test("all five routes serve over HTTP and equal the library calls") {
    val tmp = Files.createTempDirectory("api").toString
    val jsonl = s"$tmp/in"; val bronze = s"$tmp/bronze"; val silver = s"$tmp/silver"
    JsonlBronzeSink.write(LedgerQueries.fixtureBronze(spark), jsonl)
    val srv = new ApiServer(spark, new JsonlBronzeSource(jsonl), bronze, silver,
      tablesDir = Some(sfDir))
    val port = srv.start()
    try {
      assert(get(port, "/health").body() == "OK")

      // a fresh deployment (nothing ingested, tables never written) serves
      // empty lists, matching the reference's empty-migrated-tables state
      assert(get(port, s"/v1/transactions/${LedgerQueries.W}").body() == "[]")
      assert(get(port, s"/v1/ledger/${LedgerQueries.W}").body() == "[]")

      val ing = post(port, "/v1/ingest",
        s"""{"chain":"solana","wallet":"${LedgerQueries.W}","limit":100}""")
      assert(ing.statusCode() == 200 && ing.body() == "\"Ingested 5 transactions\"")

      val norm = post(port, "/v1/normalize", s"""{"wallet":"${LedgerQueries.W}"}""")
      assert(norm.statusCode() == 200 && norm.body() == "\"Normalized 4 ledger entries\"")

      // replay both POSTs: idempotent, zero new rows (repo.rs ON CONFLICT)
      assert(post(port, "/v1/ingest",
        s"""{"chain":"solana","wallet":"${LedgerQueries.W}","limit":100}""")
        .body() == "\"Ingested 0 transactions\"")
      assert(post(port, "/v1/normalize", s"""{"wallet":"${LedgerQueries.W}"}""")
        .body() == "\"Normalized 0 ledger entries\"")

      // GET payloads equal the library DataFrames, row for row, in order
      val txs = get(port, s"/v1/transactions/${LedgerQueries.W}")
      assert(txs.statusCode() == 200)
      val txsLib = LedgerPipeline.transactions(spark, bronze, LedgerQueries.W)
        .toJSON.collect().mkString("[", ",", "]")
      assert(txs.body() == txsLib)

      val led = get(port, s"/v1/ledger/${LedgerQueries.W}")
      assert(led.statusCode() == 200)
      val ledLib = LedgerPipeline.ledger(spark, silver, LedgerQueries.W)
        .toJSON.collect().mkString("[", ",", "]")
      assert(led.body() == ledLib)
      assert(led.body().contains("\"asset_symbol\""))

      // unknown wallet serves an empty array, not an error
      assert(get(port, "/v1/ledger/NoSuchWallet").body() == "[]")

      // error contract: bad JSON → 400, unknown route → 404
      assert(post(port, "/v1/normalize", """{"nope":1}""").statusCode() == 400)
      assert(get(port, "/v1/bogus").statusCode() == 404)

      // limit clamp: non-positive and Int-overflowing limits are rejected,
      // not wrapped past the ingest cap
      assert(post(port, "/v1/ingest",
        s"""{"wallet":"${LedgerQueries.W}","limit":-3}""").statusCode() == 400)
      assert(post(port, "/v1/ingest",
        s"""{"wallet":"${LedgerQueries.W}","limit":4294967296}""")
        .body() == "\"Ingested 0 transactions\"") // clamps to cap, already ingested

      // error bodies stay valid JSON even when the input carries quotes
      val inj = get(port, "/v1/query/x%22y")
      assert(inj.statusCode() == 404)
      assert(org.json4s.jackson.JsonMethods.parse(inj.body()) \ "error" ==
        org.json4s.JString("unknown query: x\"y"))

      // the full analytics surface is servable by name (beyond parity)
      val q = get(port, "/v1/query/d2_count")
      assert(q.statusCode() == 200)
      val qLib = SparkEntry.queries("d2_count")(spark, sfDir)
        .limit(1000).toJSON.collect().mkString("[", ",", "]")
      assert(q.body() == qLib, "served query payload must equal the library query")
      assert(get(port, "/v1/query/not_a_query").statusCode() == 404)

      // concurrent GETs over the shared session: all must serve the same
      // correct payload (bounded pool, driver-side Spark actions in
      // parallel — the serving model's thread-safety contract)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val bodies = Await.result(
        Future.sequence((1 to 8).map(_ => Future {
          get(port, s"/v1/ledger/${LedgerQueries.W}").body()
        })), 120.seconds)
      assert(bodies.forall(_ == ledLib),
        "concurrent GETs diverged from the library payload")
    } finally {
      srv.stop()
      // start() disables OracleAux writes for the serving process; this
      // JVM goes on to run other specs, so restore the default
      graft.tools.OracleAux.enabled = true
    }
  }

  test("stop() shuts the request pool down: start → serve → stop leaves no live pool thread") {
    val tmp = Files.createTempDirectory("apistop").toString
    val srv = new ApiServer(spark, new JsonlBronzeSource(s"$tmp/in"),
      s"$tmp/bronze", s"$tmp/silver")
    def poolThreads() = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith(ApiServer.ThreadPrefix))
    try {
      val port = srv.start()
      assert(get(port, "/health").body() == "OK")
      assert(poolThreads().nonEmpty, "a served request runs on a pool thread")
    } finally {
      srv.stop()
      graft.tools.OracleAux.enabled = true
    }
    // a worker reports the pool terminated just before its thread returns
    val deadline = System.currentTimeMillis() + 5000
    while (poolThreads().nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(poolThreads().isEmpty,
      s"pool threads outlived stop(): ${poolThreads().map(_.getName).mkString(", ")}")
  }
}
