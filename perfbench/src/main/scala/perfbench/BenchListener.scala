package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as the listener saw it: when it ran, which operation it
  * belongs to, where in the engine it was called from, and the task
  * metrics summed over its stages.
  */
final class JobRecord(val jobId: Int, val startMs: Long, val op: String,
    val site: String, val stageName: String) {
  var endMs: Long = startMs
  var succeeded = false
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  def shuffleBytes: Long = shuffleWrite + shuffleRead
}

/** Counts jobs, stages, tasks and task metrics, and keeps one
  * [[JobRecord]] per job.
  *
  * Spark's listener bus logs and drops an exception thrown by a listener,
  * so a listener that trips over an event (a null property set, a missing
  * stage) silently under-counts. Every callback here guards its input and
  * counts anything it could not handle in [[errors]], which the benchmark
  * reports.
  */
final class BenchListener extends SparkListener {
  import BenchListener._

  private val byJob = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageOwner = mutable.HashMap.empty[Int, JobRecord]
  private var stagesDone = 0L
  private var errorCount = 0L

  private def guarded(body: => Unit): Unit =
    try body catch { case _: Throwable => synchronized { errorCount += 1 } }

  override def onJobStart(e: SparkListenerJobStart): Unit = guarded {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val site = result.map(s => userFrame(s.details)).getOrElse("")
    val rec = new JobRecord(e.jobId, e.time, op, site, result.map(_.name).getOrElse(""))
    synchronized {
      byJob(e.jobId) = rec
      e.stageIds.foreach(s => stageOwner(s) = rec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = guarded {
    synchronized {
      stagesDone += 1
      stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = guarded {
    val m = e.taskMetrics
    synchronized {
      stageOwner.get(e.stageId).foreach { rec =>
        rec.tasks += 1
        if (m != null) {
          rec.cpuNs += m.executorCpuTime
          rec.runMs += m.executorRunTime
          rec.gcMs += m.jvmGCTime
          rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          rec.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = guarded {
    synchronized {
      byJob.get(e.jobId).foreach { r =>
        r.endMs = e.time
        r.succeeded = e.jobResult == JobSucceeded
      }
    }
  }

  def jobs: Vector[JobRecord] = synchronized(byJob.values.toVector)
  def stages: Long = synchronized(stagesDone)
  def errors: Long = synchronized(errorCount)

  /** Forget everything counted so far (between warm-up and measurement). */
  def reset(): Unit = synchronized {
    byJob.clear(); stageOwner.clear(); stagesDone = 0; errorCount = 0
  }
}

object BenchListener {

  /** Local property naming the benchmark operation that issued a job. */
  val OpProperty = "perfbench.op"

  /** The first stack frame of a stage's long call site that belongs to the
    * engine or the benchmark rather than to Spark, Scala or the JDK, e.g.
    * `graft.LedgerPipeline$.bucketOf(LedgerPipeline.scala:43)`.
    */
  def userFrame(details: String): String =
    if (details == null) ""
    else details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .getOrElse("")

  /** Source file of a frame such as `graft.operators.Dedup$.x(Dedup.scala:10)`. */
  def frameFile(frame: String): String = {
    val open = frame.lastIndexOf('(')
    val colon = frame.lastIndexOf(':')
    if (open < 0 || colon < open) "" else frame.substring(open + 1, colon)
  }
}
