package graft.connector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.JsonBytesToStruct
import graft.model.ConsumerConfig

/** Topic → unbounded DataFrame (SURVEY.md §2a #1-#3).
  *
  * A "topic" in the reference is a named Kinesis stream read through the
  * KCL with shard leases, batch caps, and a starting position
  * (KinesisSubscriberActor.scala:176-207). Spark-first, a topic is just a
  * streaming DataFrame: shard-parallelism is task-parallelism, lease
  * coordination is the engine's offset tracking, and `max-batch-size`
  * becomes per-trigger admission control.
  *
  * Implementations:
  *   - [[FileTopicSource]] — dev/test: replayable file-backed stream
  *     (exactly how the driver fixtures stand in for a stream).
  *   - [[KinesisTopicSource]] — production wiring: option passthrough to a
  *     Kinesis connector data source (no live Kinesis in this
  *     environment, so construction is covered by option-validation
  *     tests only).
  */
trait TopicSource {
  def topicId: String
  /** Unbounded DataFrame of inbound records. */
  def load(spark: SparkSession): DataFrame
}

/** File-backed topic (parquet/json dir) — replays from the beginning like
  * TRIM_HORIZON; `maxFilesPerTrigger` plays the role of the reference's
  * `max-batch-size` admission cap. */
final case class FileTopicSource(
    topicId: String,
    path: String,
    format: String = "parquet",
    schema: StructType,
    consumer: ConsumerConfig = ConsumerConfig(None)) extends TopicSource {

  override def load(spark: SparkSession): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", consumer.maxBatchSize)
      .load(path)
}

/** Kinesis topic: builds the option map for a Structured Streaming Kinesis
  * connector (e.g. spark-sql-kinesis), mirroring the reference's KCL
  * config surface (endpoint, starting position, batch cap). */
final case class KinesisTopicSource(
    topicId: String,
    consumer: ConsumerConfig,
    endpointUrl: Option[String] = None,
    region: Option[String] = None) extends TopicSource {

  def options: Map[String, String] =
    Map(
      "streamName" -> topicId,
      "startingPosition" -> consumer.startingPosition,
      "maxFetchRecordsPerShard" -> consumer.maxBatchSize.toString) ++
      // the config carries MICROseconds (reference precision); KCL's
      // AT_TIMESTAMP and the public Spark Kinesis connectors take epoch
      // MILLIseconds, so the unit is converted at this boundary
      consumer.startingTimestampMicros.map(us =>
        "startingTimestamp" -> (us / 1000L).toString) ++
      endpointUrl.map("endpointUrl" -> _) ++
      region.map("regionName" -> _)

  override def load(spark: SparkSession): DataFrame =
    spark.readStream.format("kinesis").options(options).load()
}

object TopicSource {
  /** Decode a JSON-payload inbound stream into typed columns —
    * schema-on-read, mirroring the reference's negotiated deserializer
    * (#3 deserialize map; payloads are JSON per README.md:36-39).
    * `data` may be binary or string; its bytes are parsed in place
    * ([[graft.functions.JsonBytesToStruct]]), with the result of
    * `from_json(col("data").cast("string"), payloadSchema)`. */
  def decodeJson(inbound: DataFrame, payloadSchema: StructType): DataFrame =
    inbound.withColumn("payload", JsonBytesToStruct.of(col("data"), payloadSchema))

  /** Encode typed rows into the outbound envelope (#4 serialize map +
    * #5 partition-key assignment; default key = hash of the row, like the
    * reference's `_.hashCode.toString` fallback,
    * ScaladslRegisterTopicProducers.scala:58-67). */
  def encodeJson(df: DataFrame, partitionKeyCol: Option[String] = None): DataFrame = {
    val pk = partitionKeyCol.map(col)
      .getOrElse(hash(struct(df.columns.map(col).toIndexedSeq: _*)).cast("string"))
    df.select(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).cast("binary").as("data"),
      pk.cast("string").as("partitionKey"),
      lit(null).cast("string").as("explicitHashKey"))
  }

  /** [[encodeJson]] with the order column carried ALONGSIDE the
    * envelope (excluded from the payload — it is delivery metadata,
    * not data), so the result feeds [[TopicSink.writeOrdered]]'s
    * `seqCol` contract directly. */
  def encodeJsonOrdered(df: DataFrame, seqCol: String,
                        partitionKeyCol: Option[String] = None): DataFrame = {
    val payloadCols = df.columns.filterNot(_ == seqCol).map(col).toIndexedSeq
    val pk = partitionKeyCol.map(col)
      .getOrElse(hash(struct(payloadCols: _*)).cast("string"))
    df.select(
      to_json(struct(payloadCols: _*)).cast("binary").as("data"),
      pk.cast("string").as("partitionKey"),
      lit(null).cast("string").as("explicitHashKey"),
      col(seqCol))
  }
}
