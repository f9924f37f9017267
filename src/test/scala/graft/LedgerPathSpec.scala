package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalacheck.{Arbitrary, Gen, Prop, Test}

import graft.analytics.LedgerQueries
import graft.operators.IdempotentSink
import graft.sources.{JsonlBronzeSink, JsonlBronzeSource}

/** The ledger API's per-request plan: the driver-side wallet bucket agrees
  * with the written partition value, a by-wallet read runs only the jobs
  * its answer needs, and a keyed append evaluates its batch once.
  */
class LedgerPathSpec extends SparkSpec {
  import spark.implicits._

  test("driver-side bucketOf equals the _bucket that bucketCol writes, for arbitrary wallets") {
    val wallet = Gen.oneOf(
      Gen.const(""),
      Gen.asciiPrintableStr,
      // any non-surrogate BMP char, plus supplementary-plane code points
      Gen.listOf(Gen.oneOf(Arbitrary.arbitrary[Char].map(_.toString),
        Gen.oneOf("😀", "𝔘", "ℵ", "é"))).map(_.mkString),
      Gen.listOfN(2000, Gen.alphaNumChar).map(_.mkString))
    val prop = Prop.forAll(Gen.nonEmptyListOf(wallet), Gen.choose(1, 64)) { (ws, n) =>
      val dir = Files.createTempDirectory("bucket").toString + "/t"
      ws.distinct.toDF("wallet_address").repartition(2)
        .withColumn("_bucket", LedgerPipeline.bucketCol(n))
        .write.partitionBy("_bucket").parquet(dir)
      val written = spark.read.parquet(dir)
        .select(col("wallet_address"), col("_bucket").cast("long")).as[(String, Long)]
        .collect().toMap
      written == ws.distinct.map(w => w -> LedgerPipeline.bucketOf(w, n)).toMap
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("a transactions read runs at most 2 jobs, none of them hashing the wallet") {
    val tmp = Files.createTempDirectory("ledgerjobs").toString
    val jsonl = s"$tmp/in"; val bronze = s"$tmp/bronze"
    JsonlBronzeSink.write(LedgerQueries.fixtureBronze(spark), jsonl)
    LedgerPipeline.ingest(spark, new JsonlBronzeSource(jsonl), LedgerQueries.W, 100, bronze)

    // Jobs are tagged through a local property. A "fence" job runs after
    // the read; the listener bus is FIFO, so once the fence's end arrives,
    // every event of the read's jobs has arrived before it.
    val tag = "graft.test.ledgerjobs"
    val read = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val fenceId = new AtomicInteger(-1)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)) match {
          case Some("read")  => read.add(j); ()
          case Some("fence") => fenceId.set(j.jobId)
          case _             => ()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == fenceId.get) fenced.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val rows =
      try {
        sc.setLocalProperty(tag, "read")
        val out = LedgerPipeline.transactions(spark, bronze, LedgerQueries.W)
          .toJSON.toLocalIterator().asScala.toVector
        sc.setLocalProperty(tag, "fence")
        sc.parallelize(Seq(1), 1).count()
        assert(fenced.await(30, TimeUnit.SECONDS), "listener bus did not deliver the fence")
        out
      } finally {
        sc.setLocalProperty(tag, null)
        sc.removeSparkListener(listener)
      }

    assert(rows.size == 5)
    val jobs = read.asScala.toVector
    val n = jobs.size
    assert(n >= 1 && n <= 2, s"read ran $n jobs")
    val sites = jobs.flatMap(_.stageInfos.map(_.details))
    assert(!sites.exists(_.contains("bucketOf")),
      s"a job hashed the wallet name:\n${sites.mkString("\n---\n")}")
  }

  test("appendOnce evaluates its batch once when the table already exists") {
    val dir = Files.createTempDirectory("once").toString + "/t"
    IdempotentSink.appendOnce(spark, Seq("k0", "k1").toDF("id"), dir, "id")
    val evaluated = spark.sparkContext.longAccumulator("batch rows evaluated")
    val counted = udf { (i: Long) => evaluated.add(1); s"k$i" }
    val n = 40
    val batch = spark.range(n).repartition(3).select(counted(col("id")).as("id"))
    assert(IdempotentSink.appendOnce(spark, batch, dir, "id") == n - 2)
    assert(evaluated.value == n, s"batch of $n rows evaluated ${evaluated.value} times")
    assert(spark.read.parquet(dir).count() == n)
  }
}
