package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** The generated-code cache holds a working set larger than Spark's default
  * 100 slots: a repeated plan reuses its compiled class instead of paying a
  * Janino compile again.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val key = "spark.sql.codegen.cache.maxEntries"

  test("GraftSession's builder and the test session both carry the constant") {
    // the builder keeps its settings in a Scala-protected map, public in the
    // bytecode; reading it needs no session
    val b = GraftSession.builder("codegen-cache-spec", 1)
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(options.get(key).contains(GraftSession.CodegenCacheEntries.toString))
    assert(spark.conf.get(key) == GraftSession.CodegenCacheEntries.toString)
  }

  test("a second round of 150 distinct plans compiles no class") {
    // each literal is inlined into the generated source, so every plan
    // compiles its own whole-stage class (on the driver and again under the
    // executor threads' class loader); the offset keeps them unlike any
    // other spec's plans. Each round builds its plans anew, as a repeated
    // query does.
    val ks = (1 to 150).map(7919000L + _)
    def round(): Long = {
      val before = compiles
      ks.foreach { k =>
        assert(spark.range(8).select(col("id") * lit(k) + lit(k)).collect().length == 8)
      }
      compiles - before
    }
    val first = round()
    assert(first >= ks.size, s"first round compiled only $first classes")
    val second = round()
    assert(second == 0,
      s"second round recompiled $second classes (first round compiled $first)")
  }
}
