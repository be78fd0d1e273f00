package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.connector.{FileTopicSource, KinesisTopicSource, TopicSink, TopicSource}
import graft.model.{ClientConfig, ConsumerConfig, EndpointConfig}
import graft.testkit.TempDirs.withTempDir

/** Connector layer: envelope encode/decode round-trip, per-key ordered
  * sink, Kinesis option construction, config validation invariants. */
class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  test("encodeJson → decodeJson round-trips typed rows through the envelope") {
    val rows = Seq((1L, "click", 2.5), (2L, "view", 1.0)).toDF("id", "kind", "v")
    val encoded = TopicSource.encodeJson(rows, partitionKeyCol = Some("kind"))
    assert(encoded.columns.toSeq == Seq("data", "partitionKey", "explicitHashKey"))
    val decoded = TopicSource.decodeJson(encoded,
        StructType.fromDDL("id BIGINT, kind STRING, v DOUBLE"))
      .select("payload.id", "payload.kind", "payload.v")
      .as[(Long, String, Double)].collect().toSet
    assert(decoded == Set((1L, "click", 2.5), (2L, "view", 1.0)))
  }

  test("default partition key falls back to a row hash (reference parity)") {
    val rows = Seq((1L, "a")).toDF("id", "s")
    val pk = TopicSource.encodeJson(rows).select("partitionKey").as[String].head()
    assert(pk.nonEmpty && pk.matches("-?\\d+"))
  }

  test("ordered sink delivers records of one key in sequence order") {
    TopicSink.CollectingSender.clear()
    val batch = Seq(
      ("k1", "m3", 3L), ("k1", "m1", 1L), ("k1", "m2", 2L),
      ("k2", "x2", 20L), ("k2", "x1", 10L))
      .toDF("partitionKey", "payload", "seq")
      .select(col("partitionKey"), col("payload").cast("binary").as("data"),
        lit(null).cast("string").as("explicitHashKey"), col("seq"))
    TopicSink.writeOrdered(batch, "seq", () => new TopicSink.CollectingSender, numPartitions = 2)
    val byKey = TopicSink.CollectingSender.byKey
    assert(byKey("k1") == Seq("m1", "m2", "m3"))
    assert(byKey("k2") == Seq("x1", "x2"))
  }

  test("file topic source streams the events fixture") {
    withTempDir("graft-topic") { dir =>
      // stage a copy of the events fixture as the topic backing
      graft.ops.Tables.table(spark, sf, "events")
        .write.mode("overwrite").parquet(s"$dir/data")
      val src = FileTopicSource("events-topic", s"$dir/data",
        schema = graft.ops.Tables.table(spark, sf, "events").schema)
      val q = src.load(spark).writeStream.format("memory").queryName("topic_ev")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table("topic_ev").count() == 1000)
    }
  }

  test("file topic source also reads JSON-format topics") {
    withTempDir("graft-json-topic") { dir =>
      graft.ops.Tables.table(spark, sf, "region")
        .write.mode("overwrite").json(s"$dir/data")
      val src = FileTopicSource("region-json", s"$dir/data", format = "json",
        schema = graft.ops.Tables.table(spark, sf, "region").schema)
      val q = src.load(spark).writeStream.format("memory").queryName("topic_json")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table("topic_json").count() == 5)
    }
  }

  test("kinesis topic source builds the reference-shaped option map") {
    val src = KinesisTopicSource("orders-topic",
      ConsumerConfig(Some("app"), maxBatchSize = 10, startingPosition = "TRIM_HORIZON"),
      endpointUrl = Some("https://kinesis.local:4567"))
    assert(src.options == Map(
      "streamName" -> "orders-topic",
      "startingPosition" -> "TRIM_HORIZON",
      "maxFetchRecordsPerShard" -> "10",
      "endpointUrl" -> "https://kinesis.local:4567"))
  }

  test("kinesis sink carries the reference's KPL timing constants") {
    val sink = graft.connector.KinesisTopicSink("out-topic", region = Some("us-east-1"))
    assert(sink.options("recordMaxBufferedTime") == "1")
    assert(sink.options("requestTimeout") == "10000")
    assert(sink.options("regionName") == "us-east-1")
    intercept[IllegalArgumentException](
      graft.connector.KinesisTopicSink("x", Some("http://e"), Some("us-east-1")))
  }

  test("config validation mirrors the reference invariants") {
    EndpointConfig(Some("k"), Some("d")); EndpointConfig(None, None)
    intercept[IllegalArgumentException](EndpointConfig(Some("k"), None))
    ClientConfig(Some("us-east-1"), None, None, None)
    intercept[IllegalArgumentException](
      ClientConfig(Some("us-east-1"), Some("http://e"), None, None))
    intercept[IllegalArgumentException](
      ClientConfig(None, None, Some("ak"), None))
    intercept[IllegalArgumentException](ConsumerConfig(None, startingPosition = "BOGUS"))
  }
}
