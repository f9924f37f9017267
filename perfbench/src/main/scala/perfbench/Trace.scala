package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Span bookkeeping for traced runs: nests Spark jobs under the operation
  * that issued them, computes per-layer self time, and writes the spans.
  *
  * A job belongs to an operation when it carries the operation's id in the
  * [[BenchListener.OpProperty]] local property (batch workloads set it on
  * the thread that builds and runs the query). Jobs without it — those run
  * on the API server's request threads — belong to the operation whose
  * wall-clock window contains the job's start; traced request phases use a
  * single client so that every such job falls in exactly one request.
  */
object Trace {

  def assign(ops: Seq[Op], jobs: Seq[JobRecord]): Map[String, Seq[JobRecord]] = {
    val tagged = jobs.filter(_.op.nonEmpty).groupBy(_.op)
    val claimed = mutable.HashSet.empty[Int]
    val untagged = jobs.filter(_.op.isEmpty).sortBy(_.startMs)
    ops.map { o =>
      val windowed = untagged.filter(j =>
        !claimed(j.jobId) && j.startMs >= o.startMs && j.startMs <= o.endMs)
      windowed.foreach(j => claimed += j.jobId)
      o.id -> (tagged.getOrElse(o.id, Nil) ++ windowed)
    }.toMap
  }

  /** Milliseconds inside [from, to] covered by at least one job. */
  def busyMs(jobs: Seq[JobRecord], from: Long, to: Long): Long = {
    var covered = 0L
    var cursor = from
    jobs.map(j => (math.max(j.startMs, from), math.min(j.endMs, to)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        val start = math.max(s, cursor)
        if (e > start) { covered += e - start; cursor = e }
      }
    covered
  }

  /** Self time of an operation: its wall time minus the time its own
    * Spark jobs were running.
    */
  def selfMs(op: Op, jobs: Seq[JobRecord]): Double =
    math.max(0.0, op.ms - busyMs(jobs, op.startMs, op.endMs))

  /** Write phase → operation → job spans as one JSON document. */
  def writeSpans(path: Path, phases: Seq[(String, Long, Long)], ops: Seq[Op],
      owned: Map[String, Seq[JobRecord]]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Any]
    phases.foreach { case (name, s, e) =>
      spans += Map("kind" -> "phase", "id" -> name, "name" -> name, "start_ms" -> s, "end_ms" -> e)
    }
    ops.foreach { o =>
      val jobs = owned.getOrElse(o.id, Nil)
      spans += Map("kind" -> "op", "id" -> o.id, "parent" -> o.phase, "layer" -> o.layer,
        "name" -> o.name, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
        "self_ms" -> selfMs(o, jobs))
      jobs.foreach { j =>
        spans += Map("kind" -> "job", "id" -> o.id, "parent" -> o.id, "layer" -> "spark",
          "job_id" -> j.jobId, "name" -> j.stageName, "call_site" -> j.site,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
          "cpu_ms" -> j.cpuNs / 1e6, "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.input)
      }
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.write(Map("spans" -> spans)))
  }

  /** Engine-wide Spark counters over the traced window. */
  def sparkTotals(jobs: Seq[JobRecord], stages: Long, wallS: Double, cores: Int,
      into: mutable.Map[String, Double]): Unit = {
    val cpuS = jobs.map(_.cpuNs).sum / 1e9
    into("spark.jobs") = jobs.size.toDouble
    into("spark.stages") = stages.toDouble
    into("spark.tasks") = jobs.map(_.tasks).sum.toDouble
    into("spark.executor_cpu_s") = cpuS
    into("spark.executor_run_s") = jobs.map(_.runMs).sum / 1e3
    into("spark.gc_s") = jobs.map(_.gcMs).sum / 1e3
    into("spark.shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum.toDouble
    into("spark.shuffle_read_bytes") = jobs.map(_.shuffleRead).sum.toDouble
    into("spark.spill_bytes") = jobs.map(_.spill).sum.toDouble
    into("spark.input_bytes") = jobs.map(_.input).sum.toDouble
    into("spark.cpu_util") = if (wallS > 0) cpuS / (wallS * cores) else 0.0
  }

  /** Per-operation means and medians over the traced operations. */
  def perOpTotals(ops: Seq[Op], owned: Map[String, Seq[JobRecord]],
      into: mutable.Map[String, Double]): Unit = if (ops.nonEmpty) {
    into("op.count") = ops.size.toDouble
    into("op.jobs") = ops.map(o => owned(o.id).size).sum.toDouble / ops.size
    into("op.self_ms") = Stats.median(ops.map(o => selfMs(o, owned(o.id))))
    into("op.spark_ms") = Stats.median(ops.map(o => busyMs(owned(o.id), o.startMs, o.endMs).toDouble))
  }
}

/** Small order statistics used inside the JVM. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
