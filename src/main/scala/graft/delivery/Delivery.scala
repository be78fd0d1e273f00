package graft.delivery

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.GroupId

/** The reference's three delivery contracts re-expressed on Structured
  * Streaming (SURVEY.md §2a #11-#14, §3.1).
  *
  *   - at-least-once — commit AFTER processing: exactly Structured
  *     Streaming's contract. The user batch function runs inside the
  *     microbatch; the engine writes `commits/<batchId>` only afterwards,
  *     so a crash mid-batch replays the batch (KinesisSubscriberActor.
  *     scala:152-166's markProcessed-after-Done, minus the actor).
  *   - at-most-once — commit BEFORE processing: no native equivalent
  *     (ScaladslKinesisSubscriber.scala:94-97 commits first). Emulated by
  *     recording the batch id in a side ledger before invoking the user
  *     function and skipping batches already recorded: a replay after a
  *     mid-batch crash is dropped instead of reprocessed.
  *   - committable — the user commits manually: the user function
  *     receives (batch, commit-thunk) and decides when the external
  *     commit happens (batchId-keyed, ScaladslKinesisSubscriber.scala:
  *     103-134's (message, () => Unit) pairs, batched).
  *
  * Group identity = checkpoint location (consumer-group semantics of the
  * KCL application name / DynamoDB lease table, SURVEY.md §1.1).
  *
  * The transactional-microbatch model this layer rides on (offset WAL +
  * commit log around each batch) is the design described publicly in
  * "Structured Streaming: A Declarative API for Real-Time Applications in
  * Apache Spark" (SIGMOD 2018).
  */
object Delivery {

  /** At-least-once: `process` may see a batch twice after failure, never
    * miss one. Make it idempotent for effectively-once. */
  def atLeastOnce(df: DataFrame, groupId: String, checkpointRoot: String)
                 (process: (DataFrame, Long) => Unit): StreamingQuery =
    drain(df, groupId, checkpointRoot)(process)

  /** At-most-once emulation: the side ledger marks the batch BEFORE the
    * user function runs. `ledger` must survive restarts for the contract
    * to hold across JVMs (here: an in-memory default for tests, a real
    * deployment passes a durable one). */
  def atMostOnce(df: DataFrame, groupId: String, checkpointRoot: String,
                 ledger: BatchLedger = InMemoryLedger)
                (process: (DataFrame, Long) => Unit): StreamingQuery =
    drain(df, groupId, checkpointRoot) { (batch, batchId) =>
      if (ledger.markIfNew(groupId, batchId)) { // commit-first
        process(batch, batchId)
      } // else: already delivered (or attempted) — drop, don't redeliver
    }

  /** Committable: user receives the batch and a commit thunk; records are
    * "uncommitted" until the thunk runs (e.g. after writing to an
    * external store). */
  def committable(df: DataFrame, groupId: String, checkpointRoot: String,
                  ledger: BatchLedger = InMemoryLedger)
                 (process: (DataFrame, Long, () => Unit) => Unit): StreamingQuery =
    drain(df, groupId, checkpointRoot) { (batch, batchId) =>
      process(batch, batchId, () => ledger.markIfNew(groupId, batchId))
    }

  /** Start `df`'s drain for `groupId`: append mode, checkpointed under
    * `<checkpointRoot>/<groupId>`, everything available now, each
    * microbatch handed to `batch` — the part all three contracts
    * share. */
  private def drain(df: DataFrame, groupId: String, checkpointRoot: String)
                   (batch: (DataFrame, Long) => Unit): StreamingQuery = {
    GroupId.validate(groupId)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/$groupId")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batch)
      .start()
  }
}

/** External commit ledger for at-most-once / committable contracts. */
trait BatchLedger extends Serializable {
  /** Returns true iff (groupId, batchId) was not yet marked. */
  def markIfNew(groupId: String, batchId: Long): Boolean
  def isMarked(groupId: String, batchId: Long): Boolean
}

object InMemoryLedger extends BatchLedger {
  private val marks = ConcurrentHashMap.newKeySet[(String, Long)]()
  override def markIfNew(groupId: String, batchId: Long): Boolean =
    marks.add((groupId, batchId))
  override def isMarked(groupId: String, batchId: Long): Boolean =
    marks.contains((groupId, batchId))
  def clear(): Unit = marks.clear()
}

/** Durable ledger: one atomically-created marker file per
  * (groupId, batchId) under `root`, so the commit-first contract of
  * at-most-once delivery survives process death — the Spark analogue of
  * the reference checkpointing its lease/sequence state to DynamoDB
  * before processing (KinesisSubscriberActor.scala:152-158). CREATE_NEW
  * is atomic on POSIX filesystems (and on HDFS-style stores the same
  * pattern maps to create-with-overwrite=false), so exactly one of any
  * number of concurrent markers wins. */
final case class FileLedger(root: String) extends BatchLedger {
  import java.nio.file.{Files, Paths, FileAlreadyExistsException}

  private def dir(groupId: String) = {
    GroupId.validate(groupId)
    Paths.get(root, groupId)
  }
  private def marker(groupId: String, batchId: Long) =
    dir(groupId).resolve(s"batch-$batchId")

  override def markIfNew(groupId: String, batchId: Long): Boolean = {
    Files.createDirectories(dir(groupId))
    try { Files.createFile(marker(groupId, batchId)); true }
    catch { case _: FileAlreadyExistsException => false }
  }

  override def isMarked(groupId: String, batchId: Long): Boolean =
    Files.exists(marker(groupId, batchId))
}
