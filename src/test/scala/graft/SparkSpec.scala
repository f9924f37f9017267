package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (specs run
  * forked but in the same test JVM), small shuffle parallelism for speed.
  * The generated-code cache takes [[GraftSession.CodegenCacheEntries]]: the
  * setting is read once per JVM, so without it here the test order would
  * decide the cache size every spec runs under.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** sf0.001 corpus dir used by query-level specs. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries",
      GraftSession.CodegenCacheEntries.toString)
    .getOrCreate()
}
