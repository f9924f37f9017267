package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: the configuration every graft deployment
  * wants, in one place —
  *
  *  - shuffle partitions sized to the executor thread count (NOT the
  *    200 default, which is wrong for local mode and must be re-derived
  *    from cluster size when deployed);
  *  - AQE on (runtime coalescing + skew-join splitting);
  *  - UTC session timezone (oracle parity + sane timestamp semantics);
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — SESSION-WIDE POLICY:
  *    parquet TIMESTAMP(NANOS) columns (which Spark's reader otherwise
  *    rejects outright) surface as raw nanosecond longs everywhere, and the
  *    read helpers that know a column's meaning ([[graft.Tables.events]],
  *    [[graft.streaming.EventStreams.subscribe]]) convert ns→µs
  *    TimestampType. Declared here, at session construction, so it is a
  *    documented engine contract — not a conf silently flipped as a side
  *    effect of whichever read helper ran first;
  *  - [[graft.plans.GraftExtensions]] injected, so the native expressions
  *    (`dot_product`, `minhash_signature`, `simhash64`, `word_shingles`)
  *    resolve from SQL text as well as the Column API;
  *  - Spark's generated-code cache sized to graft's working set
  *    ([[CodegenCacheEntries]]), so a repeated query reuses its compiled
  *    classes instead of paying a Janino compile per class on every run.
  *    Each entry is keyed by (thread context class loader, source), so the
  *    driver and the executor threads each hold their own copy of a class;
  *    Guava splits the slots into 4 LRU segments. At Spark's default of 100
  *    slots, one pass over the eight queries of the `batch` benchmark
  *    (~210 classes) evicted every class before its reuse and recompiled
  *    ~195 of them per pass. The setting is STATIC and read once per JVM,
  *    when `CodeGenerator` initializes at the first compile: a session built
  *    after that, or one built elsewhere without it, gets whatever size the
  *    first one fixed. Test sessions therefore set it from the same constant.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every graft session. Measured
    * working set: one `batch` benchmark pass needs ~210 generated classes,
    * and a first pass over all 210 declared queries compiles about 3,000;
    * 4096 leaves headroom for Guava's uneven split across its 4 segments.
    */
  val CodegenCacheEntries: Int = 4096

  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // default: one shuffle partition per core (right for the shipped
      // scale factors in local mode). SPARK_GRAFT_SHUFFLE_PARTITIONS
      // overrides for bigger-than-sf1 local experiments — per-partition
      // sort sets must stay inside executor memory, which is exactly the
      // "re-derive from data scale when deployed" note above (StressSweep's
      // decade mode measured the spill cliff: k2_prefix_join at ≈sf3 with
      // 32 fixed partitions sorts 30× the rows per partition)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new graft.plans.GraftExtensions)

  /** Build (or get) the session; if an existing session was returned (whose
    * construction-time extensions we cannot retrofit), register the SQL
    * functions into it directly.
    */
  def getOrCreate(appName: String, cores: Int): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
