package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated star-schema corpus (TESTDATA.md).
  *
  * One parquet file per table. All engine queries read through here so the
  * scan path is uniform: schema comes from the parquet footers, which every
  * [[load]] reads in a one-task Spark job (`parquet at Tables.scala`, seen
  * in every traced query construction), and filters/projections declared
  * downstream reach the reader via Catalyst pushdown (verify with
  * `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {

  /** Session-scoped memo key for the per-JVM layout/cache memos
    * (GraphQueries' adhoc edges, TextQueries' shingle corpus, K3's trained
    * codebooks, ...). Keyed by `sessionUUID` — unique per SparkSession for
    * the JVM's lifetime — NOT `System.identityHashCode`, which the JVM may
    * reuse after a stopped session is collected: an address collision would
    * hand a fresh session another session's memoized plans, whose cached/
    * checkpointed blocks died with their owner.
    */
  def memoKey(s: SparkSession, rest: String): String =
    s"${org.apache.spark.sql.GraftSqlBridge.sessionUUID(s)}|$rest"

  /** Per-JVM scratch root for staged layouts, recursively deleted at JVM
    * exit — declared queries stage temp tables under here so repeated
    * Verify/Bench/test runs stop accumulating /tmp litter (one root to
    * delete instead of hundreds of orphan graft_* dirs).
    */
  lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  /** Fresh scratch directory under [[scratchRoot]]. */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Disk-layout memo: staged table directories that are PURE FUNCTIONS of
    * the scale dir (the snapshot-table stagings, replay inputs, bucketed
    * layouts). Unlike the session-scoped plan memos above, a disk layout
    * outlives its creating session, so the key deliberately carries no
    * sessionUUID — any later session in the JVM reuses the standing layout.
    * This is the warm-artifact methodology (BASELINE.md): a 100 TB
    * deployment derives its layout once per ingest epoch, not per query,
    * so bench reps price the operator under test (the pruned read, the
    * change-feed fold) over a standing table, not the staging. A build that
    * throws stores nothing; a lost race stages twice and keeps one — both
    * harmless (scratch litter dies with the JVM).
    */
  private val layoutMemo = scala.collection.concurrent.TrieMap.empty[String, String]
  def memoLayout(key: String, prefix: String)(build: String => Unit): String =
    layoutMemo.getOrElseUpdate(key, { val dir = scratchDir(prefix); build(dir); dir })

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` normalizes to a micros TimestampType regardless of how the
    * producer wrote it — corpora in the wild carry all three encodings:
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    *    `nanosAsLong` reads it as a raw long and we truncate ns→µs (the same
    *    truncation DuckDB applies, so oracle comparisons agree);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ:
    *    cast to TimestampType — exact under the engine's UTC session zone;
    *  - already TimestampType: no-op.
    * The dtype branch reads the scanned schema (parquet footer), so the
    * loader adapts per-directory rather than assuming one producer.
    * `nanosAsLong` is GraftSession-level policy (see its scaladoc); the set
    * here only covers sessions built outside [[graft.GraftSession]] (tests).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      // integral `div`, not `/1000`: long→double division rounds the low µs
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a degenerate low-partition scan out to the session's default
    * parallelism ahead of an EXPENSIVE per-row map stage (JSON parse,
    * shingling, signature hashing). The local corpus is one
    * single-row-group parquet file per table — such a scan plans as ONE
    * partition (parquet splits only at row-group boundaries), so a heavy
    * map stage would serialize on a single core while the rest of the
    * cluster idles. Production many-file tables already arrive
    * well-partitioned, and then this is a no-op: the guard inspects the
    * planned partition count.
    *
    * Safety is STRUCTURAL, not by caller convention: the partition-count
    * probe materializes `.rdd`, which under AQE can execute upstream shuffle
    * stages just to plan — so plans containing anything beyond
    * scan/project/filter/union/generate (a join, aggregate, sort,
    * repartition, window, limit …) are returned untouched. For the allowed
    * shapes the probe is metadata-only, and a repartition on top of them is
    * the intended fan-out. This also protects pushdown: a scan-shaped plan's
    * filters are already pushed before the repartition is appended.
    */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch sources size their own splits
    if (!scanShaped(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** True when the optimized plan is pure scan/map work — leaves plus
    * Project/Filter/Union/Generate — i.e. no node that induces a shuffle,
    * sort, or driver-side boundary that a `.rdd` probe could execute.
    */
  private def scanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.collect { case p => p }.forall {
      case _: LeafNode => true
      case _: Project | _: Filter | _: Union | _: Generate | _: SubqueryAlias => true
      case _ => false
    }
  }
}
