package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Exactly-once-by-key append — the reference's only write-correctness
  * guarantee: `INSERT … ON CONFLICT (id) DO NOTHING`
  * (`/root/reference/adapters/src/repo.rs:26,56`).
  *
  * Batch semantics: dedupe the incoming batch on the key, anti-join against
  * the existing table's keys, append the remainder. Replaying the same batch
  * is a no-op.
  *
  * Evaluated once: [[appendOnce]] pins the deduped batch before the
  * anti-join, so the batch's source subtree (a JSONL parse, a normalizer,
  * network fetches) runs exactly once per append even though the
  * anti-join reads it twice (broadcast key side + left side). Callers
  * therefore never pin a batch just for this operator; they pin only when
  * the batch feeds other consumers too.
  *
  * Scale design: the anti-join probes only the key column of the existing
  * table (column-pruned parquet scan of one string column, not the full
  * table). When the incoming batch is small relative to the table — the
  * normal streaming case — we broadcast the NEW keys and flip the join so
  * the big existing side never shuffles: `existingKeys.join(broadcast(new),
  * "left_semi")` would still scan; instead we broadcast-anti on the new
  * side. At true 100 TB scale the production-grade variant partitions the
  * table by a key bucket so the probe prunes to matching partitions; that
  * layout decision lives with the table writer, this operator honors it via
  * pushdown.
  */
object IdempotentSink {

  /** A second writer held the table's write lock. The reference's
    * `ON CONFLICT DO NOTHING` is concurrency-atomic because Postgres
    * serializes it (`adapters/src/repo.rs:26,56`); check-then-write over
    * plain parquet is not, so a concurrent writer must fail LOUDLY here
    * rather than silently double-insert.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  private def lockFile(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p, "_graft_write_lock")

  /** Run `body` holding the table's exclusive write lock — a
    * create-exclusive marker file under the table directory (underscore
    * prefix: invisible to parquet readers and to [[Compactor]]'s walks).
    *
    * Acquisition is ATOMIC on the filesystems this engine targets:
    *  - Local FS: `java.nio` `CREATE_NEW` = `O_CREAT|O_EXCL` — the create
    *    AND the token stamp are one atomic syscall-backed operation (the
    *    Hadoop `RawLocalFileSystem.create(overwrite=false)` it replaces
    *    was exists-then-create, a race window the old settle-then-fence
    *    only papered over probabilistically).
    *  - HDFS-like stores (hdfs/viewfs/webhdfs): `create(overwrite=false)`
    *    is a single serialized namenode op; exclusivity comes from the
    *    create itself and the token stamped afterwards is crash forensics.
    *  - Any OTHER scheme (object stores: plain S3's create is
    *    check-then-put, not atomic) keeps the SETTLE-THEN-FENCE: stamp a
    *    unique token, wait out racing stamps, read back — the loser of a
    *    non-atomic create race throws loudly instead of double-writing.
    *    The fence is probabilistic (a writer stalled longer than the
    *    settle between create and stamp can defeat it), so on such stores
    *    the contract remains best-effort loud failure — prefer one writer
    *    per table or a real coordination service there.
    *
    * The token (pid + epoch + nonce) is the crash-forensics payload: a
    * writer that dies inside `body` leaves the lock behind by design — the
    * next writer fails until an operator inspects the lock's contents and
    * calls [[breakLock]]; auto-expiry would reintroduce the silent
    * two-writer window for slow writers.
    */
  def withTableLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val lp = lockFile(p)
    val token = s"pid=${ProcessHandle.current.pid} epochMs=${System.currentTimeMillis} " +
      s"nonce=${java.util.UUID.randomUUID}\n"
    def contention(detail: String) = new ConcurrentWriteException(
      s"table $path is locked by another writer ($detail); " +
        "if that writer is dead, inspect the lock and call breakLock")
    // fs.getUri always carries a scheme; FileSystem.getScheme is an
    // OPTIONAL api (base class throws UnsupportedOperationException).
    val scheme = fs.getUri.getScheme
    if (scheme == "file") {
      // Atomic create+stamp in one O_EXCL operation; no window in which the
      // lock exists unstamped.
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(lp.toUri.getPath),
        token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw contention(s"${lp.getName} exists")
      }
      try body finally fs.delete(lp, false)
    } else {
      val out =
        try fs.create(lp, /* overwrite = */ false)
        catch {
          // An existing lock is contention — classified by exception TYPE
          // (the Hadoop create contract), not a post-hoc exists() probe that
          // would race the holder's release.
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw contention(s"${lp.getName} exists")
          case e: java.io.IOException =>
            // Secondary, best-effort classification for stores that signal
            // an existing file with a generic IOException; other IO faults
            // (permissions, transient store errors) stay loud and distinct —
            // reporting them as "locked" would send the operator to
            // breakLock, masking the real cause.
            val probed = try fs.exists(lp) catch { case _: java.io.IOException => false }
            if (probed) throw contention(s"${lp.getName} exists") else throw e
        }
      val createIsAtomic = atomicCreateSchemes.contains(scheme)
      var ownLock = true
      try {
        try { try out.writeBytes(token) finally out.close() }
        catch { case e: Throwable =>
          if (createIsAtomic) {
            // The create was exclusive, so the lock is OURS even unstamped —
            // release it so a writer that never entered the critical
            // section doesn't wedge the table.
            fs.delete(lp, false)
          } else {
            // Non-atomic create: another writer's stamp may have landed in
            // the same window; only delete when the lock is verifiably
            // empty or ours (an UNREADABLE lock stays put — deleting a
            // possibly-foreign live lock is worse than a wedged table).
            ownLock = false
            if (readLock(fs, lp).exists(s => s.isEmpty || s == token))
              fs.delete(lp, false)
          }
          throw e
        }
        if (!createIsAtomic) {
          // settle-then-fence for stores where create may be check-then-put
          Thread.sleep(fenceSettleMs)
          readLock(fs, lp) match {
            case Some(`token`) => // verified sole owner
            case Some(seen) =>
              ownLock = false
              throw contention(s"lost the create race; lock now held by: ${seen.trim}")
            case None =>
              // Can't VERIFY ownership: neither proceed (risks two writers)
              // nor delete (risks removing a live writer's lock).
              ownLock = false
              throw new java.io.IOException(
                s"could not verify write-lock ownership for $path after stamping; " +
                  s"inspect $lp and call breakLock if no writer is alive")
          }
        }
        body
      } finally if (ownLock) fs.delete(lp, false)
    }
  }

  /** Schemes whose `create(overwrite=false)` is a single atomic namespace
    * op (no fence needed). Local `file` never reaches this check (it takes
    * the NIO O_EXCL path).
    */
  private val atomicCreateSchemes = Set("hdfs", "viewfs", "webhdfs", "file")

  /** Settle window for the non-atomic-store token fence; var so tests
    * covering the fence can shrink it.
    */
  private[operators] var fenceSettleMs: Long = 100L

  private def readLock(fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path): Option[String] = {
    var attempt = 0
    while (attempt < 3) {
      try {
        val in = fs.open(lp)
        try return Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => attempt += 1; Thread.sleep(50) }
    }
    None
  }

  /** Forcibly remove a dead writer's lock. Returns true if a lock was
    * present. Operator action — never call on a table with a live writer.
    */
  def breakLock(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lockFile(p), false)
  }

  /** Append `batch` to the parquet table at `path`, skipping rows whose
    * `keyCol` already exists. Creates the table on first write.
    * `partitionCols` selects a hive-partitioned layout (e.g. a wallet hash
    * bucket) so keyed reads prune to matching directories.
    * Returns the number of rows actually appended.
    *
    * Concurrency contract: the whole check-then-write runs under
    * [[withTableLock]], so a second concurrent writer throws
    * [[ConcurrentWriteException]] instead of racing the existence check
    * and double-inserting — the loud-failure analogue of the reference's
    * serialized `ON CONFLICT DO NOTHING`. Retrying the failed batch after
    * the winner's append is safe by idempotence.
    *
    * `batch` is evaluated exactly once (see the object doc).
    */
  def appendOnce(spark: SparkSession, batch: DataFrame, path: String, keyCol: String,
      partitionCols: Seq[String] = Nil): Long = withTableLock(spark, path) {
    // Two pins. The first holds the deduped batch, which the anti-join
    // references twice, so its source runs once. The second is a
    // checkpoint, not persist(), of the rows to append: the anti-join
    // reads the same table this method appends to, and a plain persist()
    // keeps the lineage alive, so an evicted/lost cached partition
    // recomputed AFTER the append commits would re-run the anti-join
    // against the mutated table and drop rows mid-write. Checkpointing
    // severs that lineage — a lost block fails the job loudly instead of
    // corrupting the output (see [[withPinned]] for the held-RDD mechanics).
    withPinned(batch.dropDuplicates(keyCol)) { deduped =>
      withPinned(absentFrom(spark, deduped, path, keyCol)) { fresh =>
        val n = fresh.count() // materializes both checkpoints
        if (n > 0) {
          val w = fresh.write.mode(SaveMode.Append)
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
        }
        n
      }
    }
  }

  /** Pin `df` to a local checkpoint for the duration of `body`, releasing
    * the blocks deterministically afterwards — the safe shape for reading
    * one plan several times across writes that mutate its inputs.
    *
    * The checkpoint is taken on an RDD we hold directly (not via
    * Dataset.localCheckpoint, which hides its checkpointed RDD inside a
    * LogicalRDD that Dataset.unpersist can't reach — the CacheManager has
    * no entry for it, so the blocks would linger until ContextCleaner GC).
    * Holding the handle makes the finally-block release real: a long
    * ingest loop drops each batch's blocks as soon as its writes land.
    *
    * The RDD stays in InternalRow (Tungsten binary) form via
    * GraftInternalBridge — `df.rdd` would deserialize every field to boxed
    * external Rows and re-encode them on every downstream action.
    * toRdd's iterators reuse mutable UnsafeRow buffers: copy before
    * persisting (same rule Dataset.localCheckpoint applies internally).
    * This invariant lives HERE and only here — callers must not inline
    * their own toRdd/checkpoint/bridge variant.
    */
  private[graft] def withPinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val pinned = org.apache.spark.sql.GraftInternalBridge
      .fromInternalRdd(df.sparkSession, rdd, df.schema)
    try body(pinned) finally rdd.unpersist(blocking = false)
  }

  /** The pure (side-effect-free) core: batch rows whose key is not already
    * present at `path`, with in-batch duplicates collapsed. The existing-key
    * probe reads the table with the batch's key field as its declared
    * schema, so it runs no schema-inference job.
    */
  def dedupeAgainstExisting(
      spark: SparkSession, batch: DataFrame, path: String, keyCol: String): DataFrame =
    absentFrom(spark, batch.dropDuplicates(keyCol), path, keyCol)

  /** Rows of the already-deduped `deduped` whose key is not present at `path`. */
  private def absentFrom(
      spark: SparkSession, deduped: DataFrame, path: String, keyCol: String): DataFrame =
    if (!tableExists(spark, path)) deduped
    else {
      val existingKeys = spark.read.schema(StructType(Seq(deduped.schema(keyCol))))
        .parquet(path).select(col(keyCol))
      // New batches are typically tiny vs the table: broadcast the batch
      // keys so the existing-keys scan never shuffles.
      val dupKeys = existingKeys
        .join(broadcast(deduped.select(col(keyCol))), Seq(keyCol), "left_semi")
      deduped.join(dupKeys, Seq(keyCol), "left_anti")
    }

  private[graft] def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "exists" means HAS DATA: lock acquisition mkdirs the table directory
    // before the first write, so a bare/hidden-only dir (lock marker,
    // _SUCCESS) must still read as a fresh table or the first append would
    // try to schema-infer an empty parquet dir and fail. A directory with
    // '=' in its name is a hive partition dir and always counts as data —
    // even when the partition COLUMN starts with '_' (the `_bucket=N`
    // layout), which the plain hidden-prefix rule would wrongly skip.
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      (s.isDirectory && n.contains("=")) ||
        (!n.startsWith("_") && !n.startsWith("."))
    }
  }
}
