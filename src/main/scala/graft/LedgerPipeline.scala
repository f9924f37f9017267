package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.model.Schemas
import graft.operators.IdempotentSink
import graft.sources.BronzeSource

/** End-to-end medallion workflow — the engine-side equivalent of the
  * reference's four API operations (`/root/reference/api/src/main.rs:32-38`):
  *
  *  - `POST /v1/ingest`        → [[ingest]]       (fetch → idempotent bronze)
  *  - `POST /v1/normalize`     → [[normalize]]    (bronze → idempotent silver)
  *  - `GET /v1/transactions/:w` → [[transactions]] (by-wallet ordered scan)
  *  - `GET /v1/ledger/:w`      → [[ledger]]       (by-wallet ordered scan)
  *
  * Tables are parquet paths; both writes go through [[IdempotentSink]]
  * (the `ON CONFLICT (id) DO NOTHING` semantics, repo.rs:26,56), so every
  * step is replay-safe — the reference's only write guarantee, kept.
  *
  * Scale: ingest/normalize are append-only partitioned writes; the read
  * queries push the wallet filter into the parquet scan. At 100 TB the
  * tables would be written bucketed by wallet (layout decision of the
  * writer; the queries are layout-agnostic).
  *
  * A by-wallet read runs only the jobs its answer needs:
  *  - the wallet's bucket is computed on the driver by evaluating the
  *    same catalyst expression the writer projects ([[bucketOf]]), so no
  *    job hashes the wallet name;
  *  - the table root is read with its declared schema ([[Schemas.bronze]]
  *    or [[Schemas.silver]] plus `_bucket: long`), so no job infers it;
  *  - ordering is a single-partition sort, not a global `orderBy`: the
  *    bucket scan stays parallel, one exchange gathers the wallet's rows
  *    into one partition, and that partition is sorted — no range-
  *    partition sampling job and no second scan. One wallet's history is
  *    what one HTTP response holds, so one sorted partition is the
  *    contract, not a bottleneck.
  */
object LedgerPipeline {

  /** Number of wallet hash buckets the tables are partitioned into. At
    * 100 TB this is the knob that turns a by-wallet query from a full scan
    * into a 1/nBuckets directory prune (the Spark analogue of the
    * reference's (wallet, timestamp) B-tree index, init.sql:18-19).
    */
  val DefaultBuckets = 16

  /** Deterministic wallet bucket, `pmod(xxhash64(wallet), nBuckets)`. The
    * writer's column ([[bucketCol]]) and the reader's driver-side literal
    * ([[bucketOf]]) are both built from this one constructor, so the
    * pruning literal cannot drift from the partition value on disk.
    */
  private def bucketExpr(wallet: Expression, nBuckets: Int): Expression =
    Pmod(new XxHash64(Seq(wallet)), Literal(nBuckets.toLong))

  private[graft] def bucketCol(nBuckets: Int): Column =
    GraftSqlBridge.column(
      bucketExpr(GraftSqlBridge.expression(col("wallet_address")), nBuckets)).as("_bucket")

  /** The wallet's bucket, evaluated on the driver: no Spark job. */
  private[graft] def bucketOf(wallet: String, nBuckets: Int): Long =
    bucketExpr(Literal(wallet), nBuckets).eval().asInstanceOf[Long]

  /** Ingest a wallet's history into the bronze table (hash-bucketed by
    * wallet). Returns rows appended.
    */
  def ingest(spark: SparkSession, source: BronzeSource, wallet: String,
      limit: Int, bronzePath: String, nBuckets: Int = DefaultBuckets): Long =
    IdempotentSink.appendOnce(spark,
      source.fetchHistory(spark, wallet, limit).withColumn("_bucket", bucketCol(nBuckets)),
      bronzePath, "id", partitionCols = Seq("_bucket"))

  /** Normalize a wallet's bronze rows into the silver ledger table via the
    * per-chain dispatch union ([[graft.normalize.ChainNormalizers]]):
    * solana and ethereum parse, chains without a parser contribute nothing
    * — the reference dispatches solana only and skips the rest
    * (api/main.rs:101-106). Returns rows appended.
    */
  def normalize(spark: SparkSession, bronzePath: String, wallet: String,
      silverPath: String, nBuckets: Int = DefaultBuckets): Long = {
    val bronze = byWallet(spark, bronzePath, Schemas.bronze, wallet, nBuckets)
    IdempotentSink.appendOnce(spark,
      graft.normalize.ChainNormalizers.normalizeAll(bronze)
        .withColumn("_bucket", bucketCol(nBuckets)),
      silverPath, "id", partitionCols = Seq("_bucket"))
  }

  /** Bucket-pruned by-wallet scan over a table written with `schema`: the
    * `_bucket = h(wallet)` predicate is a partition filter (prunes
    * directories); the wallet equality then pushes into the parquet reader
    * within the surviving bucket. The declared schema means no inference
    * job, and a written-but-empty table reads as zero rows. A path that
    * was never written still fails with PATH_NOT_FOUND, which the API
    * serves as `[]`.
    */
  private def byWallet(spark: SparkSession, path: String, schema: StructType,
      wallet: String, nBuckets: Int): DataFrame =
    spark.read.schema(schema.add("_bucket", LongType)).parquet(path)
      .filter(col("_bucket") === bucketOf(wallet, nBuckets) &&
        col("wallet_address") === wallet)
      .drop("_bucket")

  /** `GET /v1/transactions/:wallet` (repo.rs:73-107). */
  def transactions(spark: SparkSession, bronzePath: String, wallet: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    byWallet(spark, bronzePath, Schemas.bronze, wallet, nBuckets)
      .repartition(1).sortWithinPartitions("timestamp")

  /** `GET /v1/ledger/:wallet` (repo.rs:109-149). */
  def ledger(spark: SparkSession, silverPath: String, wallet: String,
      nBuckets: Int = DefaultBuckets): DataFrame =
    byWallet(spark, silverPath, Schemas.silver, wallet, nBuckets)
      .repartition(1).sortWithinPartitions("transaction_id", "asset_symbol")

  /** Fill the ledger's `fiat_value` design slot — the column the
    * reference models but never populates (`LedgerEntry.fiat_value`,
    * `core/src/models.rs:43`, always `None`): each entry is valued at
    * the most recent price quote at or before its transaction time,
    * `fiat_value = amount × price`.
    *
    * Inputs: `entries` in the silver schema (no event time of its own —
    * the reference's `LedgerEntry` carries none either), `bronze` for
    * the C4 lineage join that recovers each entry's transaction
    * timestamp, and `prices` as `(asset_symbol, price_ts, price)` quote
    * rows (unix seconds).
    *
    * Physical shape: the lineage join is keyed on `transaction_id`
    * (both sides shuffle-partitioned once); the price lookup is
    * [[graft.operators.AsOfJoin.bucketed]] — the skew-hardened union+
    * window form, because a price feed is the canonical hot-key input
    * (ONE asset can dominate the ledger; week-wide time buckets with
    * carried-in boundary quotes keep that key parallel instead of
    * sorting it in a single window task). Entries whose asset has no
    * quote at or before their time keep a null `fiat_value` — the
    * honest "unpriced" state, matching the reference's unfilled slot.
    */
  def enrichFiat(entries: DataFrame, bronze: DataFrame, prices: DataFrame,
      bucketWidth: Long = 7L * 24 * 3600): DataFrame = {
    // Pinned (eager localCheckpoint) because AsOfJoin.bucketed references
    // its left side twice by construction (the bucket universe + the
    // union; see its "Cost, honestly" note). Unpinned, that re-evaluates
    // this subtree — including the normalizer's from_json, the dominant
    // cost — once more (PlanAudit flagged the MULTI_PARSE). Pinning
    // materializes the timed entries once; the second reference is a
    // cached-block scan. The blocks release when the returned plan is
    // dropped (ContextCleaner).
    val timed = entries.drop("fiat_value")
      .join(bronze.select(col("id").as("transaction_id"), col("timestamp")),
        Seq("transaction_id"))
      .localCheckpoint(true)
    graft.operators.AsOfJoin.bucketed(
        timed, prices.select(col("asset_symbol"), col("price_ts"), col("price")),
        "asset_symbol", "timestamp", "price_ts", Seq("price"), bucketWidth)
      .withColumn("fiat_value", col("amount") * col("price"))
      .select("id", "transaction_id", "user_id", "wallet_address",
        "asset_symbol", "amount", "entry_type", "fiat_value")
  }

  /** Typed view of [[ledger]] — the compile-time-checked `Dataset` surface
    * mirroring the reference's `Vec<LedgerEntry>` response
    * (`core/src/models.rs:33-44`).
    */
  def ledgerTyped(spark: SparkSession, silverPath: String, wallet: String,
      nBuckets: Int = DefaultBuckets): org.apache.spark.sql.Dataset[graft.model.LedgerEntry] = {
    import spark.implicits._
    ledger(spark, silverPath, wallet, nBuckets).as[graft.model.LedgerEntry]
  }
}
