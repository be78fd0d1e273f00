package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.StreamOps

/** True-streaming semantics: watermarked windows, streaming dedup,
  * stateful processing, stream-static join — driven through MemoryStream
  * microbatches (not batch equivalents). */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  case class Ev(ts: Timestamp, user_id: Long, event_id: Long, value: Double)

  test("tumbling window with watermark aggregates per window and key") {
    val input = MemoryStream[Ev](10, spark, None)
    val agg = StreamOps.tumblingCounts(
      input.toDF().withColumn("key", col("user_id").cast("string")),
      "ts", "key", "10 minutes", "30 minutes")
    input.addData(Ev(ts(1), 1, 1, 2.0), Ev(ts(5), 1, 2, 3.0), Ev(ts(12), 1, 3, 4.0))
    val q = agg.writeStream.format("memory").queryName("tumb")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumb").orderBy("w_start")
      .select("n", "sum_value").as[(Long, Double)].collect()
    assert(rows.toSeq == Seq((2L, 5.0), (1L, 4.0)))
  }

  test("streaming dedup drops re-delivered event ids (effective-once)") {
    val input = MemoryStream[Ev](11, spark, None)
    val q = StreamOps.dedupped(input.toDF(), "ts", "event_id", "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 1, 100, 1.0), Ev(ts(2), 1, 101, 1.0))
    q.processAllAvailable()
    // simulate at-least-once redelivery of event 100 in a later batch
    input.addData(Ev(ts(1), 1, 100, 1.0), Ev(ts(3), 1, 102, 1.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(100L, 101L, 102L))
  }

  test("mapGroupsWithState accumulates per-user running state across batches") {
    val input = MemoryStream[(Long, Double)](12, spark, None)
    val q = StreamOps.runningUserState(spark, input.toDS())
      .writeStream.format("memory").queryName("state")
      .outputMode(OutputMode.Update()).start()
    input.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
    q.processAllAvailable()
    input.addData((1L, 4.0))
    q.processAllAvailable(); q.stop()
    val byUser = spark.table("state")
      .groupBy("userId").agg(max("nEvents").as("n"), max("totalValue").as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byUser(1L) == ((3L, 7.0)))
    assert(byUser(2L) == ((1L, 10.0)))
  }

  test("stream-static join enriches a stream against a dimension table") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier")
    val input = MemoryStream[Ev](13, spark, None)
    val q = StreamOps.enrich(input.toDF(), dim, "user_id", "id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    input.addData(Ev(ts(1), 1, 1, 1.0), Ev(ts(2), 3, 2, 1.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("enriched").select("event_id", "tier")
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("gold"))
    assert(out(2L).isEmpty, "unmatched stream row keeps null from left_outer")
  }

  test("watermark drops events that arrive later than the allowed lateness") {
    val input = MemoryStream[Ev](15, spark, None)
    // Append mode: windows emit only once the watermark passes their end,
    // so late data either merges (within lateness) or is dropped.
    input.addData(Ev(ts(1), 1, 1, 1.0), Ev(ts(2), 1, 2, 1.0))
    val q = StreamOps.tumblingCounts(
        input.toDF().withColumn("key", col("user_id").cast("string")),
        "ts", "key", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // advance the watermark far past the first window...
    input.addData(Ev(Timestamp.valueOf("2024-01-01 12:00:00"), 1, 3, 1.0))
    q.processAllAvailable()
    // ...then send an event for the long-closed first window: must be dropped
    input.addData(Ev(ts(3), 1, 4, 99.0))
    q.processAllAvailable()
    input.addData(Ev(Timestamp.valueOf("2024-01-01 14:00:00"), 1, 5, 1.0))
    q.processAllAvailable(); q.stop()
    val firstWindow = spark.table("late")
      .where(col("w_start") === ts(0)).select("n").as[Long].collect()
    assert(firstWindow.toSeq == Seq(2L), "late event must not reopen the closed window")
  }

  test("streaming near-dup flagging against a static signature history") {
    import java.util.concurrent.ConcurrentHashMap
    // 40 tokens, one word changed → 3-shingle jaccard ≈ 35/41 ≈ 0.85
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearCopy = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val history = Seq(
        (100L, base),
        (101L, "completely unrelated text about spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](40, spark, None)
    input.addData(
      (1L, nearCopy), // near-copy of 100 → dup
      (2L, "a totally novel document mentioning neither foxes nor optimizers"))
    val flags = new ConcurrentHashMap[Long, Boolean]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamOps.nearDupFlags(batch, "doc_id", "text",
            history, "doc_id", "text", threshold = 0.7)
          .collect().foreach(r => flags.put(r.getLong(0), r.getBoolean(2)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(flags.get(1L) == true, s"near-copy must be flagged: $flags")
    assert(flags.get(2L) == false, s"novel doc must not be flagged: $flags")
  }

  test("streaming contamination gate flags eval-overlapping docs at ingest") {
    import java.util.concurrent.ConcurrentHashMap
    val evalText = (1 to 20).map(i => s"ev$i").mkString(" ")
    val eval = Seq((900L, evalText)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](41, spark, None)
    input.addData(
      (1L, evalText + " trailing extra words here"), // shares the eval 8-grams
      (2L, (1 to 20).map(i => s"clean$i").mkString(" ")))
    val flags = new ConcurrentHashMap[Long, Boolean]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Decontamination.contaminationFlags(batch, "doc_id", "text",
            eval, "text", n = 8, threshold = 0.3)
          .collect().foreach(r =>
            flags.put(r.getLong(0), r.getAs[Boolean]("is_contaminated")))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(flags.get(1L) == true, s"overlapping doc must be flagged: $flags")
    assert(flags.get(2L) == false, s"clean doc must pass: $flags")
  }

  test("streaming span gate: duplicatedSpansAgainst + removeSpans in foreachBatch") {
    import java.util.concurrent.ConcurrentHashMap
    // the span-granular ingest gate: each micro-batch mines its leaked
    // spans against the static reference corpus and cuts them before
    // the write — the q104 -> q102 composition in its deployment shape
    val leak = "this exact thirty-plus character span leaked from the reference set"
    val ref = Seq((900L, s"reference context $leak reference tail")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](42, spark, None)
    input.addData(
      (1L, s"stream head $leak stream tail"),
      (2L, "a perfectly clean streamed document with no reference overlap"))
    val out = new ConcurrentHashMap[Long, String]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val spans = graft.ops.Dedup.duplicatedSpansAgainst(
          batch, ref, "doc_id", "text", spanLen = 30)
        graft.ops.Dedup.removeSpans(batch, spans, "doc_id", "text")
          .collect().foreach(r => out.put(r.getLong(0), r.getString(1)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(out.get(2L) == "a perfectly clean streamed document with no reference overlap")
    val cut = out.get(1L)
    assert(!cut.contains(leak) && cut.startsWith("stream head") && cut.endsWith("stream tail"),
      s"leaked span must be cut order-preserving, got: $cut")
  }

  test("streaming quality gate: Gopher filter + chunking in foreachBatch") {
    import java.util.concurrent.ConcurrentHashMap
    // the ingest-time quality + chunk stage: each micro-batch drops
    // rule-failing documents and chunks the survivors for the vector
    // store — stateless per batch, so the batch operators apply as-is
    val good = ("the data and systems work well with care " * 4).trim + " of that"
    val input = MemoryStream[(Long, String)](43, spark, None)
    input.addData(
      (1L, good),
      (2L, "x y"))  // fails the word-count band
    val out = new ConcurrentHashMap[(Long, Long), String]()
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = batch.join(
          graft.ops.TextOps.gopherQualityFlags(batch, "doc_id", "text", minWords = 5)
            .where(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        graft.ops.TextOps.chunkDocs(kept, "doc_id", "text", 64, 48)
          .collect().foreach(r => out.put((r.getLong(0), r.getLong(1)), r.getString(3)))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val keys = out.keySet().toArray.map(_.asInstanceOf[(Long, Long)]).toSeq
    assert(keys.forall(_._1 == 1L), s"doc 2 must be gated out: $keys")
    assert(keys.size == (good.length + 47) / 48,
      s"survivor must be chunked on the 48-char stride: ${keys.size}")
    assert(out.get((1L, 0L)) == good.substring(0, 64))
  }

  test("graft_minhash / graft_simhash SQL functions match the library ops") {
    val docs = graft.ops.Tables.table(spark, sf, "documents").limit(20)
    docs.createOrReplaceTempView("sig_docs")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |       graft_minhash(split(trim(text), '\\s+'), 8) AS mh,
        |       graft_simhash(split(trim(text), '\\s+')) AS sh
        |FROM sig_docs""".stripMargin)
      .as[(Long, Seq[Long], Long)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    val viaApi = docs.select(col("doc_id"),
        graft.functions.MinHashSig.sigRow(graft.ops.TextOps.tokens(col("text")), 8).as("mh"),
        graft.functions.SimHashAgg.simRow(graft.ops.TextOps.tokens(col("text"))).as("sh"))
      .as[(Long, Seq[Long], Long)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(viaSql == viaApi)
  }

  test("session window groups events by gap") {
    val input = MemoryStream[Ev](14, spark, None)
    // session windows only support Append mode on streams: sessions are
    // emitted once the watermark passes their end, so a later flush batch
    // advances the watermark past both sessions
    input.addData(Ev(ts(1), 1, 1, 1.0), Ev(ts(5), 1, 2, 1.0), Ev(ts(30), 1, 3, 1.0))
    val q = StreamOps.sessionCounts(input.toDF(), "ts", "user_id", "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    input.addData(Ev(Timestamp.valueOf("2024-01-01 13:00:00"), 9, 99, 1.0))
    q.processAllAvailable(); q.stop()
    val ns = spark.table("sess").orderBy("s_start").select("n").as[Long].collect()
    assert(ns.toSeq == Seq(2L, 1L))
  }
}
