package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed (or warm-up) operation: an HTTP request, a query
  * construction or a query execution. `id` is shared by every span the
  * operation owns, including the Spark jobs it issued.
  */
final case class Op(id: String, layer: String, name: String, phase: String,
    startMs: Long, endMs: Long, ms: Double, ok: Boolean, bytes: Long = 0L,
    traced: Boolean = false)

/** Settings and shared state of one benchmark process. */
final class RunCtx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val cores: Int) {

  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  lazy val listener = new BenchListener

  private var session: SparkSession = _

  /** Seconds spent in each part of each set-up, by part name. */
  val setupParts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Time one part of a set-up (recorded under `setupParts(name)`). */
  def part[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  /** Stop the previous session (if any) and start a fresh one. */
  def newSession(): SparkSession = part("session") {
    if (session != null) session.stop()
    session = graft.GraftSession.getOrCreate("perfbench", cores)
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  def spark: SparkSession = session

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU nanoseconds used so far by each live Java thread. */
  def cpuSnapshot(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads alive now used since `before`: the driver,
    * the API server, executor tasks and Spark's own threads. Unlike wall
    * time it does not grow while the host withholds CPU, so it is the
    * steadier measure of the work a phase took on a shared host. The JVM's
    * JIT compiler and GC threads are not Java threads and do not count;
    * neither do threads that ended within the phase (the read clients).
    */
  def cpuSince(before: Map[Long, Long]): Double =
    cpuSnapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  def record(op: Op): Unit = synchronized {
    ops += op
    attempted += 1
    if (!op.ok) failed += 1
  }

  def fail(msg: String): Unit = synchronized {
    if (failures.length < 20) failures += msg
  }

  /** Count a correctness failure found after its operation was recorded. */
  def mismatch(msg: String): Unit = synchronized {
    failed += 1
    fail(msg)
  }

  def attachListener(): Unit = session.sparkContext.addSparkListener(listener)
  def detachListener(): Unit = session.sparkContext.removeSparkListener(listener)
}

/** Benchmark process entry point.
  *
  * {{{
  * perfbench.Main --workload <ledger_api|batch|corpus_batch|star_batch> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--cores <n>]
  * }}}
  *
  * Sets up the workload `Setups` times (each in a fresh session over fresh
  * inputs), warms the last set-up up, measures it for
  * `--seconds`, and prints one line `PERFBENCH-RESULT <json>` holding the
  * raw samples. `run.py` turns those into metrics.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new RunCtx(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      work = Paths.get(opts("work")).toAbsolutePath,
      cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    Files.createDirectories(ctx.work)
    // Query construction must not write the oracle side tables a pending
    // Verify comparison reads.
    graft.tools.OracleAux.enabled = false
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var code = 0
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "cores" -> ctx.cores)
    val workload: Workload = ctx.workload match {
      case "ledger_api" => new LedgerApi(ctx)
      case "batch" => new BatchPasses(ctx, BatchPasses.Batch)
      case "corpus_batch" => new BatchPasses(ctx, BatchPasses.Corpus)
      case "star_batch" => new BatchPasses(ctx, BatchPasses.Star)
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    try {
      // Each set-up is measured in Java-thread CPU seconds, like the work
      // metrics (see RunCtx.cpuSince), and in wall seconds for the report.
      val setups = (0 until Setups).map { i =>
        val t0 = System.nanoTime()
        val cpu0 = ctx.cpuSnapshot()
        workload.setup(i)
        (ctx.cpuSince(cpu0), (System.nanoTime() - t0) / 1e9)
      }
      result("setup_cpu_s") = setups.map(_._1)
      result("setup_wall_s") = setups.map(_._2)
      val w0 = System.nanoTime()
      workload.warmup()
      result("warmup_s") = (System.nanoTime() - w0) / 1e9
      result("first_ready_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val t0 = System.nanoTime()
      workload.measure()
      result("window_s") = (System.nanoTime() - t0) / 1e9
      if (ctx.trace) {
        workload.traceExtras()
        ctx.layers("spark.listener_errors") = ctx.listener.errors.toDouble
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.mismatch(s"run aborted: $e")
        code = 1
    } finally {
      // Stop order matters: the API server first (its request threads use
      // the session), then Spark. The process then exits explicitly,
      // because the server's request pool is never shut down by
      // ApiServer.stop() and would keep the JVM alive.
      try workload.close() catch { case e: Throwable => e.printStackTrace() }
      try ctx.stop() catch { case e: Throwable => e.printStackTrace() }
    }
    result("ops") = ctx.ops.map(o => mutable.LinkedHashMap[String, Any](
      "id" -> o.id, "layer" -> o.layer, "name" -> o.name, "phase" -> o.phase,
      "ms" -> o.ms, "ok" -> o.ok, "bytes" -> o.bytes, "traced" -> o.traced))
    result("attempted") = ctx.attempted
    result("failed") = ctx.failed
    result("failures") = ctx.failures
    result("vm_hwm_kb") = vmHwmKb()
    result("setup_parts") = ctx.setupParts
    result("extra") = ctx.extra
    result("layers") = ctx.layers
    println("PERFBENCH-RESULT " + Json.write(result))
    System.out.flush()
    sys.exit(code)
  }

  /** Peak resident set size of this process (`VmHWM`), in kB. */
  def vmHwmKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else {
      val src = scala.io.Source.fromFile(status.toFile)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
    }
  }
}

/** A workload: set up (repeatable), warm up, measure, then release what it
  * holds.
  */
trait Workload {
  /** Fresh session, fresh inputs, and everything the first timed
    * operation needs built; repeated `Main.Setups` times, so `setup_s` is the
    * median of like-for-like set-ups.
    */
  def setup(i: Int): Unit
  /** Untimed operations on the last set-up before measurement. */
  def warmup(): Unit = ()
  def measure(): Unit
  /** Traced runs only: direct per-layer calls after the measurement. */
  def traceExtras(): Unit = ()
  def close(): Unit = ()
}
