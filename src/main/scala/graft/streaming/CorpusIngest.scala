package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.{Dedup, IdempotentSink}

/** K2×J: streaming corpus ingest with near-dup rejection — the shape a
  * continuously-fed training corpus actually runs: every micro-batch is
  * (1) exact-deduped within itself, (2) near-deduped within itself
  * (MinHash/LSH cascade), (3) near-deduped against the PERSISTENT
  * signature index of everything already accepted
  * ([[graft.operators.Dedup.minHashLshAgainst]] — corpus text is never
  * re-read, only its signatures), and the survivors are appended to the
  * corpus and their signatures to the index through
  * [[graft.operators.IdempotentSink.appendOnce]], so a replayed batch
  * (at-least-once source, recovered query) is a no-op rather than a
  * double insert.
  *
  * Scale notes: per micro-batch cost is batch-shingling + one capped
  * banded bucket join against the index (ScaleCheck: 10× index → 1.1×
  * time at fixed batch) + two scans of the 32-byte-row digest index
  * (Bloom aggregate + broadcast verify — neither shuffles; ScaleCheck
  * `bloom dedup`) + the keyed anti-join appendOnce already pays.
  * Near-dup state lives entirely in the index parquet — no streaming
  * state store, so the query restarts cold with full dedup history.
  *
  * Cross-batch EXACT dedup runs before the near-dup stage against a
  * hidden `_digests` sub-table of the index (underscore-prefixed, so
  * parquet scans of the index itself never see it — the same convention
  * as the `_ingest` lock scope): a Bloom-prefiltered anti-join
  * ([[graft.operators.Dedup.bloomDedupAgainst]]) that rejects any
  * already-accepted text REGARDLESS of length — including sub-shingle
  * docs the signature path cannot see — while most novel docs
  * short-circuit on the map-side Bloom probe without touching a join.
  */
object CorpusIngest {

  /** Start the deduping ingest over a streaming `docs` frame (columns
    * `idCol`, `textCol`, any payload). Survivor rows (all columns) land at
    * `corpusPath`; their (id, signature) rows at `indexPath`.
    */
  def dedupingSink(
      docs: DataFrame,
      corpusPath: String,
      indexPath: String,
      checkpoint: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      observeAs: Option[String] = None): StreamingQuery = {
    // optional feed-health stage: per-micro-batch row/null counters ride
    // the batch (CollectMetrics — no second pass) and surface through
    // PipelineMetrics.MetricsListener
    val fed = observeAs.fold(docs)(name =>
      graft.operators.PipelineMetrics.streamingStage(docs, name,
        graft.operators.PipelineMetrics.standardMetrics(Seq(textCol), None)))
    fed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, corpusPath, indexPath, textCol, idCol, threshold): Unit
      }
      .start()
  }

  /** Streaming corpus-statistics sink: maintain a Count-Min frequency
    * sketch of `keyCol` across micro-batches through
    * [[graft.operators.SketchMaintenance]]. The maintenance layer's
    * batch-id replay guard is EXACTLY Structured Streaming's foreachBatch
    * contract (at-least-once delivery with a stable batch id), so a
    * replayed micro-batch — restart, retry, checkpoint recovery — cannot
    * double-count; and because CM merge is pointwise addition, the
    * maintained sketch equals the one-shot sketch of everything ingested
    * BIT-FOR-BIT at every commit point (StreamingSpec proves both).
    * State is a constant 32 KiB regardless of stream lifetime.
    */
  def sketchSink(keys: DataFrame, statePath: String, checkpoint: String,
      keyCol: String, depth: Int = 4, width: Int = 1024): StreamingQuery =
    keys.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.SketchMaintenance.update(batch.sparkSession,
          statePath, batch, col(keyCol), depth, width,
          batchId = Some(id)): Unit
      }
      .start()

  /** One micro-batch of the ingest — also the BATCH entry point (backfill
    * jobs call this directly with the same semantics the stream gets).
    * Returns the number of documents accepted.
    *
    * Concurrency and crash contract: the whole read-index → decide →
    * append sequence runs under an INGEST-SCOPE lock (an `_ingest`
    * sub-table of the index — `withTableLock` on the index path itself
    * would deadlock against the inner `appendOnce`'s own lock), so a
    * second concurrent ingest fails loudly instead of both reading an
    * index that lacks the other's signatures and silently admitting
    * mutual near-dups. The corpus append runs BEFORE the index append on
    * purpose: a crash between the two leaves corpus docs unindexed, and
    * RE-RUNNING THE SAME BATCH HEALS IT — the unindexed docs raise no
    * near-dup match, the corpus append is a keyed no-op, and the index
    * append then lands the missing signatures. (Index-first would
    * instead ghost-reject future docs whose "duplicate" never made it
    * into the corpus.)
    *
    * A crash INSIDE the lock leaves the `_ingest` lock file behind (by
    * [[IdempotentSink.withTableLock]] design: locks never auto-expire, so
    * a slow-but-alive writer is never raced). Replays therefore throw
    * [[graft.operators.ConcurrentWriteException]] until an operator
    * confirms the crashed writer is dead and calls [[recoverIngestLock]]
    * (which names the non-obvious `_ingest` sub-path for you); the data
    * itself needs no repair — the next replay heals as above. The
    * streaming wrapper replays failed batches automatically; direct
    * batch callers re-run on failure.
    */
  def ingestBatch(
      batch: DataFrame,
      corpusPath: String,
      indexPath: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5): Long =
    IdempotentSink.withTableLock(batch.sparkSession, s"$indexPath/_ingest") {
      // Pin the incoming batch once: the stages below (exact dedup, bloom
      // probe, near-dup, index anti-join) each act on it, and re-running
      // the source subtree per action would re-scan the feed — and, when
      // the stream is observed (dedupingSink observeAs), multiply the
      // CollectMetrics counters by the action count. One materialization,
      // blocks released at scope exit.
      IdempotentSink.withPinned(batch) { b =>
      val spark = b.sparkSession
      val digestsPath = s"$indexPath/_digests"
      val withinExact = Dedup.exactRows(b, textCol, idCol)
      // Cross-batch exact dedup vs everything already accepted, any
      // length. expectedItems from the parquet footer count (metadata
      // read); undersizing would only raise the verify traffic.
      val exactFresh =
        if (!IdempotentSink.tableExists(spark, digestsPath)) withinExact
        else {
          val dIdx = spark.read.parquet(digestsPath).select("digest")
          Dedup.bloomDedupAgainst(dIdx, withinExact, col(textCol),
            expectedItems = math.max(1024L, dIdx.count()))
        }
      val within = Dedup.dedupNearDups(exactFresh, textCol, idCol, threshold)
      // has-DATA check, not fs.exists: appendOnce's lock acquisition
      // mkdirs the table dir even on a zero-row append (e.g. a first
      // batch of sub-shingle-length docs), and parquet-reading a
      // dataless dir throws — which would wedge the stream forever.
      val survivors =
        if (!IdempotentSink.tableExists(spark, indexPath)) within
        else {
          val index = spark.read.parquet(indexPath)
          val dupIds = Dedup
            .minHashLshAgainst(index, within, textCol, idCol, threshold = threshold)
            .select(col("id_l").as(idCol)).distinct()
          within.join(dupIds, Seq(idCol), "left_anti")
        }
      // Survivors feed three writes (corpus, signatures, digests): pin
      // once so a replayed or non-deterministic source can't diverge
      // between the writes, and so a long-running ingest releases each
      // batch's blocks as it goes.
      IdempotentSink.withPinned(survivors) { pinned =>
        val n = IdempotentSink.appendOnce(spark, pinned, corpusPath, idCol)
        IdempotentSink.appendOnce(spark,
          Dedup.minHashSignatures(pinned, textCol, idCol), indexPath, idCol)
        // Digests last: a crash before this line leaves accepted docs
        // undigested, and replaying the batch heals it — a shingleable
        // doc is meanwhile still guarded by its signatures, a sub-shingle
        // doc flows through both dedup stages unmatched and its keyed
        // appends land only the missing digest row.
        IdempotentSink.appendOnce(spark,
          pinned.select(col(idCol),
            sha2(col(textCol).cast("string"), 256).as("digest")),
          digestsPath, idCol)
        n
      }
      }
    }

  /** Break a crashed ingest's `_ingest`-scope lock after confirming the
    * writer is dead (inspect the lock contents first — it records
    * pid/epoch/nonce). Exists because the lock lives at a sub-path of the
    * index table that callers would otherwise have to know by convention;
    * the DATA needs no repair — re-running the failed batch heals it (see
    * [[ingestBatch]]'s crash contract).
    *
    * @return true if a lock was present and removed
    */
  def recoverIngestLock(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Boolean =
    IdempotentSink.breakLock(spark, s"$indexPath/_ingest")
}
