package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.ApiServer
import graft.sources.JsonlBronzeSource

/** `ledger_api`: the reference's own traffic through [[ApiServer]] over a
  * seeded bronze JSONL feed ([[LedgerData]]).
  *
  * Each set-up generates the feed and starts a fresh session and server
  * over a fresh store. The warm-up, on the last set-up, ingests and
  * normalizes [[LedgerApi.WarmWallets]] wallets, replays an ingest (it must
  * append nothing) and reads the wallets back.
  *
  * Measurement, on the last set-up:
  *  - write phase: one closed-loop client sends `POST /v1/ingest` (limit 50)
  *    then `POST /v1/normalize` for [[LedgerApi.WriteWallets]] wallets in
  *    seed order;
  *  - read phase: for the run's `--seconds`, [[LedgerApi.ReadClients]]
  *    closed-loop clients alternate `GET /v1/transactions/:w` and
  *    `GET /v1/ledger/:w`, picking among the ingested wallets by a Zipf law.
  *
  * Every response is checked against what the generator computed
  * independently from its balances; a non-2xx status or a mismatch is a
  * failed operation.
  */
final class LedgerApi(ctx: RunCtx) extends Workload {
  import LedgerApi._

  private var server: ApiServer = _
  private var port = 0
  private var feed: LedgerData.Feed = _
  private var truth: Map[String, LedgerData.WalletTruth] = Map.empty
  private var order: Vector[String] = Vector.empty
  private var dir: Path = _
  private val ingested = mutable.ArrayBuffer.empty[String]
  private var opSeq = 0L
  private var inputBytes = 0L
  /** Source bytes of each well-formed feed line, by bronze row id. */
  private var lineBytes: Map[String, Long] = Map.empty

  private def bronze = dir.resolve("bronze").toString
  private def silver = dir.resolve("silver").toString
  private def source = dir.resolve("source.jsonl")

  def setup(i: Int): Unit = {
    close()
    val spark = ctx.newSession()
    dir = ctx.work.resolve(s"setup-$i")
    Files.createDirectories(dir)
    ctx.part("inputs") {
      feed = LedgerData.generate(ctx.seed, Envelopes, Wallets, ingestLimit = IngestLimit)
      feed.write(source)
    }
    lineBytes = feed.lines.collect {
      case l if l.startsWith("{\"id\":\"tx-") => l.substring(7, l.indexOf('"', 7)) -> (l.length + 1L)
    }.toMap
    truth = feed.wallets.map(w => w.wallet -> w).toMap
    order = shuffled(feed.wallets.map(_.wallet), new SplittableRandom(ctx.seed ^ 0x5eed))
    ingested.clear()
    inputBytes = 0L
    server = new ApiServer(spark, new JsonlBronzeSource(source.toString), bronze, silver,
      ingestLimit = IngestLimit)
    port = ctx.part("server")(server.start())
  }

  /** On the last set-up: ingest and normalize the warm-up wallets, replay
    * an ingest (it must append nothing), and read the wallets back.
    */
  override def warmup(): Unit = {
    val c = new Client(port)
    order.take(WarmWallets).foreach(w => writeWallet(c, w, "warmup", traced = false))
    if (ctx.trace) storeLayout("warmup")
    val replay = c.post("/v1/ingest", s"""{"wallet":"${order.head}","limit":$IngestLimit}""")
    if (replay.status != 200 || countIn(replay.body) != 0L)
      ctx.mismatch(s"replayed ingest appended rows: ${replay.status} ${replay.body}")
    ingested.foreach { w =>
      read(c, "transactions", w, "warmup", traced = false)
      read(c, "ledger", w, "warmup", traced = false)
    }
  }

  def measure(): Unit = {
    if (ctx.trace) { ctx.listener.reset(); ctx.attachListener() }
    val writeStart = System.currentTimeMillis()
    val writeCpu = ctx.cpuSnapshot()
    val c = new Client(port)
    order.slice(WarmWallets, WarmWallets + WriteWallets).foreach { w =>
      if (ctx.trace) probeBytes(bronze)
      writeWallet(c, w, "write", traced = ctx.trace, probeSilver = ctx.trace)
    }
    ctx.extra("write_cpu_s") = ctx.cpuSince(writeCpu)
    val writeEnd = System.currentTimeMillis()
    ctx.extra("write_phase_s") = (writeEnd - writeStart) / 1000.0
    if (ctx.trace) storeLayout("write")
    val phases = mutable.ArrayBuffer(("write", writeStart, writeEnd))
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    if (ctx.trace) {
      // Tracing overhead: the same single-client read loop, first without
      // the listener, then with it.
      ctx.detachListener()
      val half = System.nanoTime() + math.max(0L, deadline - System.nanoTime()) / 2
      readPhase(1, half, "read_untraced", traced = false)
      ctx.attachListener()
    }
    val readStart = System.currentTimeMillis()
    val readCpu = ctx.cpuSnapshot()
    readPhase(if (ctx.trace) 1 else ReadClients, deadline, "read", traced = ctx.trace)
    ctx.extra("read_cpu_s") = ctx.cpuSince(readCpu)
    val readEnd = System.currentTimeMillis()
    phases += (("read", readStart, readEnd))
    ctx.extra("read_phase_s") = (readEnd - readStart) / 1000.0
    if (ctx.trace) summarize(phases.toSeq)
  }

  private def readPhase(clients: Int, deadline: Long, phase: String, traced: Boolean): Unit = {
    val wallets = ingested.toVector
    val threads = (0 until clients).map { k =>
      val t = new Thread(() => {
        val c = new Client(port)
        val zipf = new Zipf(wallets.length, ZipfS, new SplittableRandom(ctx.seed * 31 + k))
        var n = 0
        while (System.nanoTime() < deadline || n < MinReadsPerClient) {
          val route = if ((n + k) % 2 == 0) "transactions" else "ledger"
          read(c, route, wallets(zipf.next()), phase, traced)
          n += 1
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private def nextId(kind: String): String = synchronized { opSeq += 1; s"$kind-$opSeq" }

  private def timed(phase: String, route: String, traced: Boolean)(
      send: => Client.Response): Client.Response = {
    val id = nextId(route)
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val resp = try send catch {
      case e: Exception => Client.Response(-1, e.toString)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = resp.status / 100 == 2
    if (!ok) ctx.fail(s"$route ${resp.status}: ${resp.body.take(200)}")
    ctx.record(Op(id, "api", route, phase, s, System.currentTimeMillis(), ms, ok,
      resp.body.length.toLong, traced))
    resp
  }

  private def writeWallet(c: Client, w: String, phase: String, traced: Boolean,
      probeSilver: Boolean = false): Unit = {
    val t = truth(w)
    val body = s"""{"wallet":"$w","limit":$IngestLimit}"""
    val ing = timed(phase, "ingest", traced)(c.post("/v1/ingest", body))
    if (ing.status == 200 && countIn(ing.body) != t.ingested)
      ctx.mismatch(s"ingest $w: got ${ing.body}, want ${t.ingested}")
    inputBytes += t.ingestedTxIds.map(id => lineBytes.getOrElse(id, 0L)).sum
    if (probeSilver) probeBytes(silver)
    val norm = timed(phase, "normalize", traced)(c.post("/v1/normalize", s"""{"wallet":"$w"}"""))
    if (norm.status == 200 && countIn(norm.body) != t.entries.size)
      ctx.mismatch(s"normalize $w: got ${norm.body}, want ${t.entries.size}")
    synchronized(ingested += w)
  }

  private def read(c: Client, route: String, w: String, phase: String, traced: Boolean): Unit = {
    val resp = timed(phase, if (route == "ledger") "read_ledger" else "read_transactions", traced)(
      c.get(s"/v1/$route/$w"))
    if (resp.status == 200) {
      val problem = try {
        if (route == "ledger") checkLedger(w, resp.body) else checkTransactions(w, resp.body)
      } catch { case e: Exception => Some(s"unparseable response: $e") }
      problem.foreach(p => ctx.mismatch(s"$route $w: $p"))
    }
  }

  private def checkTransactions(w: String, body: String): Option[String] = {
    val t = truth(w)
    val rows = JsonMethods.parse(body).children
    val ids = rows.map(r => (r \ "id").values.toString)
    val ts = rows.map(r => (r \ "timestamp").values.toString.toLong)
    if (rows.size != math.min(IngestLimit, t.history)) Some(s"${rows.size} rows, want ${t.ingested}")
    else if (ids.toSet != t.ingestedTxIds.toSet) Some("transaction ids differ")
    else if (ts != ts.sorted) Some("not oldest-first")
    else None
  }

  private def checkLedger(w: String, body: String): Option[String] = {
    val got = JsonMethods.parse(body).children.map { r =>
      ((r \ "transaction_id").values.toString, (r \ "asset_symbol").values.toString,
        (r \ "amount").values.toString.toDouble)
    }.sortBy(e => (e._1, e._2))
    val want = truth(w).entries.map(e => (e.txId, e.asset, e.amount)).sortBy(e => (e._1, e._2))
    if (got.size != want.size) Some(s"${got.size} entries, want ${want.size}")
    else got.zip(want).collectFirst {
      case (g, x) if g._1 != x._1 || g._2 != x._2 || math.abs(g._3 - x._3) > 1e-9 =>
        s"entry $g, want $x"
    }
  }


  // ---- traced-run layer metrics ------------------------------------------

  private val probes = mutable.ArrayBuffer.empty[Long]

  /** Bytes of the key column the idempotent sink's anti-join probe reads
    * from the existing table, taken from the parquet footers just before
    * an append.
    */
  private def probeBytes(table: String): Unit = {
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    probes += parquetFiles(table).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try reader.getFooter.getBlocks.asScala.map(_.getColumns.asScala
        .filter(_.getPath.toDotString == "id").map(_.getTotalSize).sum).sum
      finally reader.close()
    }.sum
  }

  private def parquetFiles(table: String): Seq[Path] = {
    val root = java.nio.file.Paths.get(table)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toVector
      finally s.close()
    }
  }

  private def storeLayout(phase: String): Unit = {
    val b = parquetFiles(bronze)
    val s = parquetFiles(silver)
    val bytes = (b ++ s).map(Files.size).sum
    ctx.layers(s"store.bronze_files.$phase") = b.size.toDouble
    ctx.layers(s"store.silver_files.$phase") = s.size.toDouble
    ctx.layers(s"store.bytes_per_input_byte.$phase") =
      if (inputBytes > 0) bytes.toDouble / inputBytes else 0.0
    if (phase == "write") {
      ctx.layers("store.bronze_files") = b.size.toDouble
      ctx.layers("store.silver_files") = s.size.toDouble
      ctx.layers("store.bytes_per_input_byte") = ctx.layers(s"store.bytes_per_input_byte.$phase")
    }
  }

  private def summarize(phases: Seq[(String, Long, Long)]): Unit = {
    ctx.detachListener()
    val jobs = ctx.listener.jobs
    val traced = ctx.ops.filter(_.traced).toVector
    val owned = Trace.assign(traced, jobs)
    val L = ctx.layers
    def routeOf(o: Op) = if (o.name.startsWith("read")) "read" else o.name
    traced.groupBy(routeOf).foreach { case (route, os) =>
      val js = os.map(o => owned(o.id))
      L(s"api.$route.requests") = os.size.toDouble
      L(s"api.$route.jobs") = js.map(_.size).sum.toDouble / os.size
      L(s"api.$route.tasks") = js.map(_.map(_.tasks).sum).sum.toDouble / os.size
      L(s"api.$route.input_bytes") = js.map(_.map(_.input).sum).sum.toDouble / os.size
      L(s"api.$route.self_ms") = Stats.median(os.map(o => Trace.selfMs(o, owned(o.id))))
      ctx.extra(s"jobs_per_request.$route") = js.map(_.size)
    }
    val reads = traced.filter(o => routeOf(o) == "read")
    L("api.response_bytes") = if (reads.isEmpty) 0.0 else reads.map(_.bytes).sum.toDouble / reads.size
    val bucketJobs = jobs.count(_.site.contains("LedgerPipeline$.bucketOf("))
    L("LedgerPipeline.bucketOf_jobs") = bucketJobs.toDouble
    L("LedgerPipeline.bucketOf_jobs_per_request") = bucketJobs.toDouble / math.max(1, traced.size)
    L("IdempotentSink.probe_bytes") = if (probes.isEmpty) 0.0 else probes.sum.toDouble / probes.size
    L("IdempotentSink.jobs") = jobs.count(j =>
      BenchListener.frameFile(j.site) == "IdempotentSink.scala").toDouble
    val wallS = phases.map { case (_, s, e) => e - s }.sum / 1000.0
    Trace.sparkTotals(jobs, ctx.listener.stages, wallS, ctx.cores, L)
    Trace.perOpTotals(traced, owned, L)
    val untraced = ctx.ops.filter(o => o.phase == "read_untraced").map(_.ms)
    val tracedReads = reads.map(_.ms)
    L("trace.overhead_pct") =
      if (untraced.isEmpty || tracedReads.isEmpty) 0.0
      else (Stats.median(tracedReads) / Stats.median(untraced.toSeq) - 1) * 100
    Trace.writeSpans(ctx.work.resolve(s"spans-${ctx.workload}-${ctx.seed}.json"), phases,
      traced, owned)
    ctx.attachListener()
  }

  override def traceExtras(): Unit = {
    // Direct calls into the source and normalizer layers for one ingested
    // wallet, outside the API, so their cost can be read without the
    // request and sink overhead around them.
    val spark = ctx.spark
    val w = ingested.head
    val src = new JsonlBronzeSource(source.toString)
    val fetch = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      src.fetchHistory(spark, w, IngestLimit).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = spark.read.parquet(bronze).filter(org.apache.spark.sql.functions.col(
      "wallet_address") === w).drop("_bucket").localCheckpoint()
    val norm = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      graft.normalize.ChainNormalizers.normalizeAll(rows).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    ctx.layers("sources.fetch_s") = Stats.median(fetch)
    ctx.layers("normalize.normalizeAll_s") = Stats.median(norm)
    ctx.detachListener()
  }

  override def close(): Unit = {
    if (server != null) { server.stop(); server = null }
  }

  private def countIn(body: String): Long =
    "\\d+".r.findFirstIn(body).map(_.toLong).getOrElse(-1L)
}

object LedgerApi {
  val Envelopes = 20000
  val Wallets = 400
  val IngestLimit = 50
  val WarmWallets = 1
  val WriteWallets = 3
  val ReadClients = 3
  val MinReadsPerClient = 10
  val ZipfS = 1.1

  def shuffled[T](xs: Vector[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** Blocking HTTP/1.1 client for one closed-loop load thread. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = s"http://127.0.0.1:$port"

  def get(path: String): Client.Response = send(HttpRequest.newBuilder(URI.create(base + path))
    .timeout(Duration.ofSeconds(60)).GET().build())

  def post(path: String, body: String): Client.Response = send(
    HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  private def send(req: HttpRequest): Client.Response = {
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    Client.Response(r.statusCode(), r.body())
  }
}

object Client {
  final case class Response(status: Int, body: String)
}
