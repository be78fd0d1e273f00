package graft.connector

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Topic sink with per-partition-key ordered delivery (SURVEY.md §2a #6).
  *
  * The reference guarantees per-entity ordering by sending one record at a
  * time (`mapAsync(1)`, Producer.scala:249) after routing by partition
  * key. Spark-first, the same contract is: repartition by partitionKey
  * (all records of a key land in one task), sort within partitions by the
  * sequence column, then write each partition serially through a
  * [[RecordSender]]. Parallelism is across keys/partitions — the
  * reference's global parallelism-1 is strictly weaker than needed and
  * would not survive 100 TB; per-key ordering is the actual invariant.
  */
trait RecordSender extends Serializable {
  /** Send one record; called in partition order for each key. */
  def send(partitionKey: String, data: Array[Byte], explicitHashKey: Option[String]): Unit
  def close(): Unit = ()
}

/** Producer-side Kinesis sink configuration, mirroring the reference's
  * KPL surface (hard-coded 1 ms max buffering and 10 s request timeout at
  * Producer.scala:233-234, endpoint/region from the client config). In
  * production these feed a Kinesis DataSourceV2 sink or the KPL inside a
  * [[graft.delivery.Delivery]] batch function; offline, construction + validation is the
  * testable surface. */
final case class KinesisTopicSink(
    topicId: String,
    endpointUrl: Option[String] = None,
    region: Option[String] = None,
    maxBufferedTimeMillis: Long = 1L,   // Producer.scala:233
    requestTimeoutMillis: Long = 10000L // Producer.scala:234
) {
  require(!(endpointUrl.isDefined && region.isDefined),
    "endpoint and region must not both be set") // Producer.scala:218-222

  def options: Map[String, String] =
    Map(
      "streamName" -> topicId,
      "recordMaxBufferedTime" -> maxBufferedTimeMillis.toString,
      "requestTimeout" -> requestTimeoutMillis.toString) ++
      endpointUrl.map("endpointUrl" -> _) ++
      region.map("regionName" -> _)
}

object TopicSink {

  /** Write one (micro)batch of outbound envelopes with per-key ordering.
    * `seqCol` defines the order within a key (e.g. event time or offset). */
  def writeOrdered(batch: DataFrame, seqCol: String,
                   senderFactory: () => RecordSender,
                   numPartitions: Int = 0): Unit = {
    val parts = if (numPartitions > 0) numPartitions
      else batch.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    batch
      .repartition(parts, col("partitionKey"))
      .sortWithinPartitions(col("partitionKey"), col(seqCol))
      .select("partitionKey", "data", "explicitHashKey", seqCol)
      .foreachPartition { (rows: Iterator[Row]) =>
        val sender = senderFactory()
        try rows.foreach { r =>
          sender.send(r.getString(0), r.getAs[Array[Byte]](1), Option(r.getString(2)))
        } finally sender.close()
      }
  }

  /** Throughput-measurement sender: counts deliveries and payload bytes
    * (static per JVM — local mode) without buffering records, so a
    * relay benchmark can push 10⁵-10⁶ records through the full
    * decode → encode → repartition → sort → serial-send path and verify
    * exactly-once delivery by count. */
  final class CountingSender extends RecordSender {
    override def send(pk: String, data: Array[Byte], ehk: Option[String]): Unit = {
      CountingSender.records.incrementAndGet()
      CountingSender.bytes.addAndGet(data.length.toLong)
      ()
    }
  }
  object CountingSender {
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { records.set(0); bytes.set(0) }
  }

  /** In-memory sender for tests: records (key, payload) in arrival order
    * per JVM (single-process local mode). */
  final class CollectingSender extends RecordSender {
    override def send(pk: String, data: Array[Byte], ehk: Option[String]): Unit =
      CollectingSender.sent.add((pk, new String(data, "UTF-8")))
  }
  object CollectingSender {
    val sent = new ConcurrentLinkedQueue[(String, String)]()
    def clear(): Unit = sent.clear()
    def byKey: Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      sent.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
  }
}
