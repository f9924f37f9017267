package perfbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The batch workloads: timed passes over a fixed set of declared queries,
  * each built with `SparkEntry.queries(name)(spark, dir)` and written to the
  * `noop` sink.
  *
  * The input is the repository's shipped corpus, the directory the engine's
  * flagship `SparkEntry.entry` reads. Each set-up starts a fresh session,
  * copies the corpus into a fresh directory (so per-directory layout memos
  * are rebuilt too) and constructs every query once. The warm-up then
  * executes the last set-up's queries once, untimed, and takes every
  * query's row count and order-independent fingerprint. Measurement runs
  * whole passes until the run's time is up; the seed permutes the query
  * order of every pass.
  */
final class BatchPasses(ctx: RunCtx, set: BatchPasses.QuerySet) extends Workload {
  import BatchPasses._

  private var dir: String = _
  /** The shipped corpus, found on the first set-up. */
  private var corpus: Path = _
  private val fingerprints = mutable.LinkedHashMap.empty[String, Any]
  /** The queries the latest set-up built. */
  private val built = mutable.LinkedHashMap.empty[String, DataFrame]
  /** Construction seconds per analytics module in the latest set-up. */
  private val setupConstruct = mutable.LinkedHashMap.empty[String, Double]

  /** Fresh session and corpus copy, then every query constructed once: the
    * eager work constructors do (replay staging, index and graph builds,
    * iterative loops that run at construction) happens here.
    */
  def setup(i: Int): Unit = {
    val spark = ctx.newSession()
    val target = ctx.work.resolve(s"setup-$i").resolve("tables")
    dir = target.toString
    ctx.part("inputs") {
      if (corpus == null) corpus = corpusDir(spark)
      Files.createDirectories(target)
      val src = Files.list(corpus)
      try src.forEach(f => Files.copy(f, target.resolve(f.getFileName)))
      finally src.close()
    }
    setupConstruct.clear()
    built.clear()
    ctx.part("construct")(set.queries.foreach { q =>
      val t0 = System.nanoTime()
      try built(q) = graft.SparkEntry.queries(q)(spark, dir)
      catch { case e: Exception => ctx.mismatch(s"$q construct in set-up: $e") }
      val m = moduleOf(q)
      setupConstruct(m) = setupConstruct.getOrElse(m, 0.0) + (System.nanoTime() - t0) / 1e9
    })
  }

  /** Executes the queries the last set-up built once, untimed, by taking
    * every query's row count and fingerprint for the correctness check.
    */
  override def warmup(): Unit = {
    fingerprints.clear()
    built.foreach { case (q, df) =>
      try fingerprints(q) = fingerprint(df)
      catch { case e: Exception => ctx.mismatch(s"$q warm-up: $e") }
    }
    ctx.extra("fingerprints") = fingerprints
  }

  /** Java-thread CPU seconds of the query executions of the current pass. */
  private var executeCpu = 0.0

  /** Construct, execute to the noop sink, and record both as operations. */
  private def runQuery(spark: SparkSession, q: String, id: String, phase: String,
      traced: Boolean): Unit = {
    val module = moduleOf(q)
    spark.sparkContext.setLocalProperty(BenchListener.OpProperty, s"$id/construct")
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(graft.SparkEntry.queries(q)(spark, dir))
      catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    ctx.record(Op(s"$id/construct", module, q, phase, s0, s1, (t1 - t0) / 1e6, result.isRight,
      traced = traced))
    result match {
      case Left(e) => ctx.fail(s"$q construct: $e")
      case Right(df) =>
        spark.sparkContext.setLocalProperty(BenchListener.OpProperty, s"$id/execute")
        val cpu0 = ctx.cpuSnapshot()
        val ok = try { df.write.format("noop").mode("overwrite").save(); true }
          catch { case e: Exception => ctx.fail(s"$q execute: $e"); false }
        executeCpu += ctx.cpuSince(cpu0)
        ctx.record(Op(s"$id/execute", module, q, phase, s1, System.currentTimeMillis(),
          (System.nanoTime() - t1) / 1e6, ok, traced = traced))
    }
    spark.sparkContext.setLocalProperty(BenchListener.OpProperty, null)
  }

  def measure(): Unit = {
    val spark = ctx.spark
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val rng = new SplittableRandom(ctx.seed)
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passExecuteCpu = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    if (ctx.trace) ctx.listener.reset()
    var p = 0
    // Whole passes only; in a traced run they alternate untraced and
    // traced (listener attached), so the pair gives the tracing overhead.
    while (passes.size < MinPasses || System.nanoTime() < deadline ||
        (ctx.trace && passes.map(_._1).distinct.size < 2)) {
      val traced = ctx.trace && p % 2 == 1
      if (traced) ctx.attachListener()
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val cpu0 = ctx.cpuSnapshot()
      executeCpu = 0.0
      LedgerApi.shuffled(set.queries, rng).foreach { q =>
        runQuery(spark, q, s"p$p/$q", s"pass-$p", traced)
      }
      passCpu += ctx.cpuSince(cpu0)
      passExecuteCpu += executeCpu
      passes += ((traced, (System.nanoTime() - t0) / 1e9))
      phases += ((s"pass-$p", s, System.currentTimeMillis()))
      if (traced) ctx.detachListener()
      p += 1
    }
    ctx.extra("pass_s") = passes.map(_._2)
    ctx.extra("pass_traced") = passes.map(_._1)
    ctx.extra("pass_cpu_s") = passCpu
    ctx.extra("pass_execute_cpu_s") = passExecuteCpu
    if (ctx.trace) summarize(passes.toSeq, phases.toSeq)
  }

  private def summarize(passes: Seq[(Boolean, Double)], phases: Seq[(String, Long, Long)]): Unit = {
    val L = ctx.layers
    val jobs = ctx.listener.jobs
    val traced = ctx.ops.filter(_.traced).toVector
    val owned = Trace.assign(traced, jobs)
    val tracedPasses = passes.count(_._1)
    val wallS = passes.filter(_._1).map(_._2).sum
    Trace.sparkTotals(jobs, ctx.listener.stages, wallS, ctx.cores, L)
    Trace.perOpTotals(traced, owned, L)
    // One sub-layer per analytics module: what its queries cost per pass.
    Modules.foreach { case (m, _) =>
      val os = traced.filter(_.layer == m)
      val js = os.flatMap(o => owned(o.id))
      def perPass(x: Double) = x / math.max(1, tracedPasses)
      L(s"$m.construct_s") = perPass(os.filter(_.id.endsWith("/construct")).map(_.ms).sum / 1e3)
      L(s"$m.execute_s") = perPass(os.filter(_.id.endsWith("/execute")).map(_.ms).sum / 1e3)
      L(s"$m.jobs") = perPass(js.size.toDouble)
      L(s"$m.shuffle_bytes") = perPass(js.map(_.shuffleBytes).sum.toDouble)
      L(s"$m.cpu_s") = perPass(js.map(_.cpuNs).sum / 1e9)
      L(s"$m.self_s") = perPass(os.map(o => Trace.selfMs(o, owned(o.id))).sum / 1e3)
    }
    // Set-up construction per module: eager work a constructor does once
    // per session (replay staging, index builds) lands in set-up.
    Modules.foreach { case (m, _) =>
      L(s"$m.setup_construct_s") = setupConstruct.getOrElse(m, 0.0)
    }
    Seq("Dedup" -> "Dedup.scala", "GraphOps" -> "GraphOps.scala", "KnnGraph" -> "KnnGraph.scala",
        "IvfAnn" -> "IvfAnn.scala", "AsOfJoin" -> "AsOfJoin.scala").foreach { case (name, file) =>
      L(s"$name.jobs") = jobs.count(j => BenchListener.frameFile(j.site) == file).toDouble /
        math.max(1, tracedPasses)
    }
    val perQuery = ctx.ops.filter(o => o.phase.startsWith("pass-")).groupBy(_.name)
    set.queries.foreach { q =>
      val byPass = perQuery.getOrElse(q, Nil).groupBy(_.phase).values.map(_.map(_.ms).sum / 1e3)
      L(s"q.${q}_s") = Stats.median(byPass.toSeq)
    }
    val un = passes.filterNot(_._1).map(_._2)
    val tr = passes.filter(_._1).map(_._2)
    L("trace.overhead_pct") =
      if (un.isEmpty || tr.isEmpty) 0.0 else (Stats.median(tr) / Stats.median(un) - 1) * 100
    Trace.writeSpans(ctx.work.resolve(s"spans-${ctx.workload}-${ctx.seed}.json"),
      phases.filter(ph => traced.exists(_.phase == ph._1)), traced, owned)
  }
}

object BatchPasses {

  /** Passes a run measures at least; a traced run measures at least two,
    * one untraced and one traced.
    */
  val MinPasses = 1

  final case class QuerySet(name: String, queries: Vector[String])

  /** The declared workload: a cheap query of every analytics module. The
    * `GraphOps` connected-components loop (which runs inside the query's
    * construction), `Dedup`'s contamination join, a star-schema aggregate,
    * the normalizer as one big job, the bucketed `AsOfJoin`, a streaming
    * replay (its staging runs in set-up), MinHash LSH and an exact cosine
    * top-k. `KnnGraph` and `IvfAnn` build their graph or centroids in every
    * set-up, which does not fit a run's time; they run in `Corpus`.
    */
  val Batch = QuerySet("batch", Vector(
    "g4_connected_components", "k6_decontaminate", "d4_agg_suite", "i1_normalize_events",
    "c5_asof_bucketed", "j1_subscribe_replay", "k2_minhash_lsh", "k3_cosine_topk"))

  /** The full corpus set: similarity, dedup, ANN, text, graph and pipeline
    * operators — iterative and shuffle-heavy.
    */
  val Corpus = QuerySet("corpus_batch", Vector(
    "k2_dedup_cascade", "k2_cluster_transitive", "k2_allpairs_cosine", "k2_prefix_join",
    "k2_semantic_dedup", "k2_minhash_lsh",
    "k3_hybrid_rrf", "k3_ann_ivf_pq", "k3_knn_graph",
    "k4_tfidf_top_terms", "k4_textrank_keywords", "k4_quality_score",
    "g4_connected_components", "g4_pagerank",
    "k6_corpus_pipeline", "k6_decontaminate",
    "k5_video_neardup"))

  /** The full star set: scans, joins, aggregates, windows, sketches,
    * streaming replay and snapshot tables — no iterative loops.
    */
  val Star = QuerySet("star_batch", Vector(
    "c6_join_inner", "c6_join_salted", "c8_range_join",
    "d4_agg_suite", "d4_cube", "d5_cost_basis",
    "e2_window_suite", "e5_sessionize",
    "c5_asof_bucketed", "c5_ledger_fiat_enrich", "i1_normalize_events",
    "d9_hll_incremental", "d10_kll_quantiles", "d14_cdf_incremental_agg",
    "j2_exactly_once_replay", "j8_stream_stream_join", "j9_stream_dedup",
    "a14_partitioned_scan", "a16_snapshot_time_travel", "c13_snapshot_delete_mor",
    "c7_merge_upsert"))

  /** Analytics modules by the query names each declares. */
  lazy val Modules: Seq[(String, Set[String])] = Seq(
    "SimilarityQueries" -> graft.analytics.SimilarityQueries.queries.keySet,
    "TextQueries" -> graft.analytics.TextQueries.queries.keySet,
    "GraphQueries" -> graft.analytics.GraphQueries.queries.keySet,
    "PipelineQueries" -> graft.analytics.PipelineQueries.queries.keySet,
    "StarQueries" -> graft.analytics.StarQueries.queries.keySet,
    "EventQueries" -> graft.analytics.EventQueries.queries.keySet,
    "LedgerQueries" -> graft.analytics.LedgerQueries.queries.keySet,
    "StreamingReplay" -> graft.analytics.StreamingReplay.queries.keySet)

  /** The directory of the corpus the engine's flagship query reads: the
    * repository's shipped tables at their smallest scale.
    */
  def corpusDir(spark: SparkSession): Path = {
    val file = graft.SparkEntry.entry(spark).inputFiles.head
    Paths.get(new URI(file)).getParent
  }

  def moduleOf(q: String): String =
    Modules.collectFirst { case (m, qs) if qs(q) => m }.getOrElse("SparkEntry")

  /** Row count and an order-independent fingerprint of a result: the sum,
    * over rows, of a 64-bit hash of the row with floating-point values
    * rounded to 6 decimals (folded into 31 bits so the sum cannot overflow).
    */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(s"`${f.name}`"), f.dataType))
    val row = df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    Seq(row.getLong(0), row.getLong(1))
  }

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType | _: StructType | ArrayType(_: MapType | _: StructType, _) => to_json(c)
    case _ => c
  }
}
