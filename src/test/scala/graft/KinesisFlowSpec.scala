package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.connector.{KinesisTopicSource, TopicSink}
import graft.model.ConsumerConfig
import graft.testkit.{FakeKinesis, FakeKinesisSender}
import graft.testkit.TempDirs.withTempDir

/** End-to-end Kinesis path against the in-repo DataSourceV2 double
  * (registered as `kinesis` on the test classpath) — the offline analogue
  * of the reference's kinesalite verification flow (reference
  * README.md:14-52): records put to a stream are consumed through the
  * production `KinesisTopicSource.load()` call (`format("kinesis")` +
  * option map), relayed through `TopicSink.writeOrdered`, and checked for
  * exactly-once content with per-key order intact, under the
  * `maxFetchRecordsPerShard` admission cap and across checkpoint
  * restarts. */
class KinesisFlowSpec extends SparkSpec {

  private def putJson(stream: String, key: String, i: Int): Unit = {
    FakeKinesis.putRecord(stream, key, s"""{"k":"$key","v":$i}""".getBytes("UTF-8"))
    ()
  }

  test("kinesis source → ordered sink: exactly-once relay with per-key order, capped batches") {
    FakeKinesis.createStream("orders-topic", 4)
    FakeKinesis.createStream("orders-out", 2)
    val n = 60
    val keys = (0 until n).map(i => s"k${i % 6}")
    keys.zipWithIndex.foreach { case (k, i) => putJson("orders-topic", k, i) }

    // the production load() call: readStream.format("kinesis") + option map
    val src = KinesisTopicSource("orders-topic",
      ConsumerConfig(Some("app"), maxBatchSize = 5))
    val batchIds = new ConcurrentLinkedQueue[Long]()
    TopicSink.CollectingSender.clear()
    withTempDir("graft-kinesis-flow") { dir =>
      val q = src.load(spark).writeStream
        .option("checkpointLocation", dir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batchIds.add(id)
          val env = batch.select(
            col("data"), col("partitionKey"),
            lit(null).cast("string").as("explicitHashKey"),
            col("sequenceNumber").cast("long").as("seq"))
          TopicSink.writeOrdered(env, "seq", () => new TopicSink.CollectingSender, 4)
          TopicSink.writeOrdered(env, "seq", () => new FakeKinesisSender("orders-out"), 4)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      // exactly-once: every record delivered once, per-key order = put order
      val byKey = TopicSink.CollectingSender.byKey
      assert(byKey.values.map(_.size).sum == n, s"lost/duplicated records: $byKey")
      for ((k, msgs) <- byKey) {
        val expected = keys.zipWithIndex.collect {
          case (k2, i) if k2 == k => s"""{"k":"$k2","v":$i}"""
        }
        assert(msgs == expected, s"per-key order broken for $k")
      }
      // admission control: 60 records, ≤5/shard/batch over 4 shards → >1 batch
      assert(batchIds.size > 1, s"admission cap ignored: ${batchIds.size} batch(es)")

      // the republished stream holds all records, per-key in sequence order
      val out = (0 until 2).flatMap(s => FakeKinesis.slice("orders-out", s, 0L, n.toLong))
      assert(out.size == n)
      for ((k, recs) <- out.groupBy(_.partitionKey)) {
        val payloads = recs.sortBy(_.seq).map(r => new String(r.data, "UTF-8"))
        val expected = keys.zipWithIndex.collect {
          case (k2, i) if k2 == k => s"""{"k":"$k2","v":$i}"""
        }
        assert(payloads == expected, s"republished order broken for $k")
      }
    }
  }

  test("TRIM_HORIZON restart resumes from the checkpoint, not the beginning") {
    FakeKinesis.createStream("clicks-topic", 2)
    (0 until 10).foreach(i => putJson("clicks-topic", s"c${i % 3}", i))
    val src = KinesisTopicSource("clicks-topic",
      ConsumerConfig(Some("app"), maxBatchSize = 100))
    withTempDir("graft-kinesis-restart") { dir =>
      val seen = new ConcurrentLinkedQueue[Long]()
      def run(): Unit = {
        val q = src.load(spark).writeStream
          .option("checkpointLocation", dir)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.select("sequenceNumber").collect()
              .foreach(r => seen.add(r.getString(0).toLong))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run()
      assert(seen.size == 10, s"first run must drain the backlog: ${seen.size}")
      (10 until 15).foreach(i => putJson("clicks-topic", s"c${i % 3}", i))
      run()
      import scala.jdk.CollectionConverters._
      assert(seen.size == 15, s"restart must deliver only the 5 new records: ${seen.size}")
      assert(seen.asScala.toSet.size == 15, "restart redelivered already-committed records")
    }
  }

  test("AT_TIMESTAMP starts mid-stream at the requested arrival time") {
    FakeKinesis.createStream("ts-topic", 2)
    (0 until 8).foreach(i => putJson("ts-topic", s"t${i % 3}", i))
    // arrivalMicros = 1700000000000000L + seq ms; cut between seq 4 and 5
    // (config carries µs; the option map forwards epoch ms to the connector)
    val cutoff = 1700000000000000L + 5L * 1000L
    val src = KinesisTopicSource("ts-topic",
      ConsumerConfig(Some("app"), startingPosition = "AT_TIMESTAMP",
        startingTimestampMicros = Some(cutoff)))
    val seen = new ConcurrentLinkedQueue[Long]()
    val q = src.load(spark).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select("sequenceNumber").collect()
          .foreach(r => seen.add(r.getString(0).toLong))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(5L, 6L, 7L),
      s"AT_TIMESTAMP must deliver exactly the records at/after the cutoff: ${seen.asScala.toSet}")
  }

  test("LATEST starting position skips the backlog") {
    FakeKinesis.createStream("late-topic", 2)
    (0 until 8).foreach(i => putJson("late-topic", s"l$i", i))
    val src = KinesisTopicSource("late-topic",
      ConsumerConfig(Some("app"), startingPosition = "LATEST"))
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    val q = src.load(spark).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => count.addAndGet(batch.count()); () }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(count.get() == 0, s"LATEST must not read the backlog: ${count.get()}")
  }
}
