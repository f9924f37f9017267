package graft.sources

import org.apache.spark.sql.SparkSession

import graft.operators.IdempotentSink

/** A2 live-ingest loop over the wire client — the operational bridge from
  * the reference's INTENDED live path ("subscribe to low-latency chain
  * events", `README.md:3`; stub `adapters/src/solana_grpc.rs:17-24`) to
  * its WORKING batch-pull path ([[RpcChainIngestor]], solana.rs:23-58):
  * poll the node for history newer than a cursor, land it exactly-once,
  * repeat. Downstream consumers read the bronze table as a stream
  * (`EventStreams.subscribe` / `SlotLogSource`), so the poller is the
  * only component that touches the network.
  *
  * Exactly-once without trusting the cursor: every poll appends through
  * [[IdempotentSink.appendOnce]] keyed on the deterministic
  * signature-derived id, so CORRECTNESS never depends on cursor state —
  * a lost cursor (fresh checkpoint, crashed poller) re-fetches history
  * it already landed and the keyed anti-join drops it. The cursor
  * (newest signature seen) is purely the EFFICIENCY state: it turns the
  * steady-state poll into "page until the cursor appears", the same
  * until-known-slot walk a Yellowstone resume performs. It persists as a
  * one-line LOCAL file next to the table (java.nio atomic move; a
  * cluster whose table lives in HDFS/S3 keeps the cursor in the job's
  * checkpoint volume instead — and since the cursor is never
  * load-bearing for correctness, skipping it entirely only re-fetches).
  *
  * At scale the poller is one driver-side loop per wallet feed; the
  * detail fetches inside [[RpcChainIngestor.fetchHistory]] still fan out
  * across executors, and the append's anti-join broadcasts only the
  * (tiny) new batch against the table's key column.
  */
final class RpcPoller(
    ingestor: RpcChainIngestor,
    tablePath: String,
    wallet: String,
    pageLimit: Int = 1000) {

  private val cursorPath = java.nio.file.Paths.get(s"$tablePath._cursor_$wallet")
  private var cursor: Option[String] = loadCursor()

  /** One poll round: walk the signature list newest-first UNTIL THE
    * CURSOR APPEARS (or history is exhausted — `pageLimit` bounds only
    * the cursor-less bootstrap walk), detail-fetch only the fresh
    * prefix, append exactly-once, advance the cursor. A burst larger
    * than `pageLimit` is therefore walked in full before the cursor
    * advances: the resume walk in [[RpcChainIngestor.signatureWalk]]
    * never terminates on the page budget, because advancing the cursor
    * past signatures that were never fetched would lose them forever —
    * the idempotent sink dedups re-fetches, it cannot conjure rows that
    * were skipped. Returns rows actually landed (0 for an idle feed OR
    * a replayed window — idle-detection belongs to the caller's
    * schedule, not correctness).
    */
  def pollOnce(spark: SparkSession): Long = {
    val fresh = ingestor.fetchSignatures(wallet, pageLimit, stopAt = cursor)
    if (fresh.isEmpty) return 0L // idle: cursor is still the newest
    // unpinned: the keyed append evaluates its batch once, so each
    // signature's network round-trip is paid once
    val page = ingestor.fetchBySignatures(spark, wallet, fresh)
    val n = IdempotentSink.appendOnce(spark, page, tablePath, "id")
    // fresh is newest-first: head is the new cursor
    cursor = Some(fresh.head)
    saveCursor(fresh.head)
    n
  }

  /** Run `rounds` polls with `intervalMs` sleeps — the long-running feed
    * loop (tests run it with rounds=2..3 and a 0 interval).
    */
  def run(spark: SparkSession, rounds: Int, intervalMs: Long = 1000L): Long = {
    var landed = 0L
    for (r <- 1 to rounds) {
      landed += pollOnce(spark)
      if (r < rounds && intervalMs > 0) Thread.sleep(intervalMs)
    }
    landed
  }

  def currentCursor: Option[String] = cursor

  private def loadCursor(): Option[String] =
    if (java.nio.file.Files.exists(cursorPath))
      Some(java.nio.file.Files.readString(cursorPath).trim).filter(_.nonEmpty)
    else None

  private def saveCursor(sig: String): Unit = {
    val tmp = java.nio.file.Paths.get(cursorPath.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, sig)
    java.nio.file.Files.move(tmp, cursorPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
