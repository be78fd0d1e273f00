package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.connector.FileTopicSource
import graft.model.ConsumerConfig

/** Failure-injection evidence for the delivery layer (round-11 verdict
  * #9): kill the relay MID-MICROBATCH during a staged catch-up,
  * restart from the same checkpoint, and assert the recovery contract
  * SCALING.md's admission-control sweep implies — no record lost, and the
  * at-least-once duplicate window bounded by EXACTLY the one
  * microbatch the kill interrupted (whose size the admission cap
  * bounds in turn). This is the quantitative link between the cap
  * knob and recovery cost: at a cap of `c` files, a crash costs at
  * most one `c`-file unit of re-sent work, never a restart of the
  * backlog.
  */
class ChaosRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("mid-catch-up kill: nothing lost, duplicates = exactly the interrupted microbatch, <= one admission cap") {
    val stageDir = java.nio.file.Files
      .createTempDirectory("graft-chaos-stage").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-chaos-ckpt").toString
    // backlog: the events fixture as a 20-file envelope, cap 4 files
    // per trigger → a 5-microbatch catch-up
    val events = graft.ops.Tables.table(spark, sf, "events")
      .select(col("event_id").as("seq"),
        col("user_id").cast("string").as("partitionKey"))
    events.repartition(20).write.mode("overwrite").parquet(stageDir)
    val n = events.count()
    val perFile = spark.read.parquet(stageDir)
      .groupBy(input_file_name()).count()
      .agg(max("count")).head().getLong(0)
    val envSchema = StructType(Seq(
      StructField("seq", LongType), StructField("partitionKey", StringType)))
    val src = FileTopicSource("chaos", stageDir, "parquet", envSchema,
      ConsumerConfig(None, maxBatchSize = 4))

    val sent = new ConcurrentLinkedQueue[Long]() // every send, duplicates kept
    @volatile var killArmed = true
    @volatile var killedBatchRows = -1L
    @volatile var batchesRun = 0
    def run(): Unit = {
      val q = src.load(spark).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val seqs = b.select("seq").as[Long].collect()
          seqs.foreach(s => sent.add(s)) // the sends happen first...
          batchesRun += 1
          if (killArmed && batchesRun == 3) { // ...then the process dies
            killArmed = false
            killedBatchRows = seqs.length.toLong
            sys.error("chaos: killed mid-microbatch 3")
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch { case _: Exception => () }
    }
    run() // catch-up dies inside microbatch 3 (commit never written)
    run() // restart: WAL replays ONLY the interrupted microbatch, then continues

    val all = sent.asScala.toSeq
    val distinct = all.distinct
    assert(distinct.size.toLong == n,
      s"no record may be lost: delivered ${distinct.size} of $n")
    val dups = all.size - distinct.size
    assert(dups == killedBatchRows,
      s"duplicate window must be exactly the interrupted microbatch: " +
        s"$dups vs $killedBatchRows")
    assert(dups <= 4 * perFile,
      s"reprocessing must be bounded by one admission cap (4 files × " +
        s"$perFile rows): $dups")
    assert(dups > 0, "the kill must actually have interrupted a batch")
    info(s"backlog n=$n over 20 files, cap 4 → ${batchesRun} microbatches " +
      s"total (incl. replay); killed batch re-sent $killedBatchRows rows " +
      s"(bound ${4 * perFile})")
    graft.ops.LocalFiles.deleteRecursively(stageDir)
    graft.ops.LocalFiles.deleteRecursively(ckpt)
  }
}
