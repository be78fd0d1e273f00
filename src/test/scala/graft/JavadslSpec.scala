package graft

import java.util.Optional

import org.apache.spark.sql.functions._

import graft.connector.TopicSink
import graft.javadsl.{GraftTopics, examples}
import graft.testkit.TempDirs.withTempDir

/** The Java-facing DSL (reference javadsl parity): the compiled Java
  * example class drives the full relay end-to-end, and the facade's
  * registry/config surface is exercised with Java types only —
  * `Optional`, `java.util` collections, Java functional interfaces. */
class JavadslSpec extends SparkSpec {
  import spark.implicits._

  test("JavaRelayExample: Java-built relay delivers every record, per-key ordered") {
    val n = 48
    val rows = (0 until n).map { i =>
      val k = s"k${i % 4}"
      (s"""{"k":"$k","v":$i}""".getBytes("UTF-8"), k, i.toLong)
    }
    withTempDir("graft-javadsl") { root =>
      val stage = s"$root/stage"
      rows.toDF("data", "partitionKey", "seq")
        .repartition(6).write.mode("overwrite").parquet(stage)
      // run 1 — admission caps: 2 files/trigger over 6 staged files →
      // multiple microbatches, exactly-once delivery by count. (Cross-
      // batch ordering is a property of the journal's file layout — the
      // staged files scatter seqs, so only counts are asserted here.)
      TopicSink.CollectingSender.clear()
      val q = examples.JavaRelayExample.run(spark, stage, s"$root/ckpt", 2)
      q.awaitTermination()
      assert(TopicSink.CollectingSender.byKey.values.map(_.size).sum == n,
        s"lost/duplicated records: ${TopicSink.CollectingSender.byKey}")

      // run 2 — ordering: one batch covers every file; writeOrdered's
      // (partitionKey, seq) sort makes per-key delivery = seq order
      TopicSink.CollectingSender.clear()
      val q2 = examples.JavaRelayExample.run(spark, stage, s"$root/ckpt2", 100)
      q2.awaitTermination()
      val byKey = TopicSink.CollectingSender.byKey
      assert(byKey.values.map(_.size).sum == n, s"lost/duplicated records: $byKey")
      for ((k, msgs) <- byKey) {
        // re-encoded payload field order is (k, v); per-key order = seq order
        val expected = (0 until n).collect {
          case i if s"k${i % 4}" == k => s"""{"k":"$k","v":$i}"""
        }
        assert(msgs == expected.toSeq, s"per-key order broken for $k")
      }
    }
  }

  test("facade config/registry surface works from Java types") {
    // config: Optional-based overloads, reference validation intact
    val cc = GraftTopics.consumerConfig(Optional.of("app"))
    assert(cc.maxBatchSize == 10 && cc.startingPosition == "TRIM_HORIZON")
    intercept[IllegalArgumentException] {
      GraftTopics.consumerConfig(Optional.of("app"), 10, 10,
        "AT_TIMESTAMP", Optional.empty[java.lang.Long]())
    }
    val ks = GraftTopics.kinesisSource("t1",
      GraftTopics.consumerConfig(Optional.of("app"), 10, 5, "TRIM_HORIZON",
        Optional.empty[java.lang.Long]()),
      Optional.of("http://localhost:4567"), Optional.empty[String]())
    assert(ks.asInstanceOf[graft.connector.KinesisTopicSource]
      .options("maxFetchRecordsPerShard") == "5")

    // registry: role gating through java.util.Set
    withTempDir("graft-javadsl-reg") { root =>
      val reg = GraftTopics.registry(spark, root, java.util.Set.of("worker"))
      assert(reg.producerRunsHere(graft.model.ProducerConfig(Some("worker"))))
      assert(!reg.producerRunsHere(graft.model.ProducerConfig(Some("other"))))
      assert(reg.producerRunsHere(graft.model.ProducerConfig(None)))
    }

    // encode/decode round-trip through the facade
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val env = GraftTopics.encodeJson(df, Optional.of("k"))
    assert(env.columns.toSeq == Seq("data", "partitionKey", "explicitHashKey"))
    val dec = GraftTopics.decodeJson(
      env.select(col("data"), col("partitionKey")),
      examples.JavaRelayExample.payloadSchema())
    assert(dec.select(col("payload.k"), col("payload.v")).as[(String, Long)]
      .collect().toSet == Set(("a", 1L), ("b", 2L)))
  }
}
