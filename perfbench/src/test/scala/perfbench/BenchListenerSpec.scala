package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class BenchListenerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("counts at least one job and one task for spark.range(10).count()") {
    val l = new BenchListener
    spark.sparkContext.addSparkListener(l)
    try {
      assert(spark.range(10).count() == 10)
      // listener events arrive asynchronously
      eventually(timeout(20.seconds)) {
        assert(l.jobs.nonEmpty && l.jobs.forall(_.succeeded))
      }
      assert(l.jobs.map(_.tasks).sum >= 1)
      assert(l.stages >= 1)
      assert(l.errors == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("tags jobs with the issuing operation and the engine call site") {
    val l = new BenchListener
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setLocalProperty(BenchListener.OpProperty, "op-1")
      spark.range(5).collect()
      spark.sparkContext.setLocalProperty(BenchListener.OpProperty, null)
      eventually(timeout(20.seconds)) { assert(l.jobs.exists(_.succeeded)) }
      val j = l.jobs.last
      assert(j.op == "op-1")
      assert(j.site.startsWith("perfbench.BenchListenerSpec"))
      assert(BenchListener.frameFile(j.site) == "BenchListenerSpec.scala")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("events with a null property set still count") {
    val l = new BenchListener
    l.onJobStart(new org.apache.spark.scheduler.SparkListenerJobStart(1, 0L, Nil, null))
    assert(l.jobs.size == 1)
    assert(l.errors == 0)
  }
}
