package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.connector.{FileTopicSource, RecordSender, TopicSink, TopicSource}
import graft.delivery.{BatchLedger, Delivery, FileLedger}
import graft.engine.GraftEngine
import graft.model.ConsumerConfig
import graft.ops.Tables

/** What the checking sender saw. Local mode runs every send task in this
  * JVM, so one shared state holds the whole delivery. */
object Check {
  @volatile private var seen = new AtomicLongArray(1)
  @volatile private var latencyUs = new Array[Long](0)
  @volatile private var floorUs = 0L
  private val lastSeq = new ConcurrentHashMap[String, java.lang.Long]()
  val records = new AtomicLong
  val bytes = new AtomicLong
  val duplicates = new AtomicLong
  val disordered = new AtomicLong
  val unknown = new AtomicLong

  // epoch microseconds from the monotonic clock, fixed at class load
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Expect event ids 0 until `capacity`; records are due no earlier
    * than `notBeforeUs` (the drain start, for a staged backlog). */
  def reset(capacity: Int, notBeforeUs: Long): Unit = synchronized {
    seen = new AtomicLongArray((capacity + 63) / 64)
    latencyUs = Array.fill(capacity)(-1L)
    floorUs = notBeforeUs
    lastSeq.clear()
    Seq(records, bytes, duplicates, disordered, unknown).foreach(_.set(0))
  }

  /** Payloads start `{"event_id":<n>,"due_us":<n>,` (the flow keeps
    * that column order); reads both numbers without a JSON parser. */
  private def twoLongs(b: Array[Byte]): (Long, Long) = {
    var i = 0
    def next(): Long = {
      while (i < b.length && b(i) != ':') i += 1
      i += 1
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val id = next()
    (id, next())
  }

  def record(pk: String, data: Array[Byte]): Unit = {
    val t = nowUs()
    records.incrementAndGet()
    bytes.addAndGet(data.length.toLong)
    val (id, due) = twoLongs(data)
    if (id < 0 || id >= latencyUs.length) { unknown.incrementAndGet(); return }
    val w = (id >> 6).toInt
    val bit = 1L << (id & 63)
    if ((seen.getAndUpdate(w, x => x | bit) & bit) != 0) duplicates.incrementAndGet()
    else latencyUs(id.toInt) = t - math.max(due, floorUs)
    val prev = lastSeq.put(pk, id)
    if (prev != null && prev.longValue >= id) disordered.incrementAndGet()
  }

  /** Ids below `n` that were never delivered. */
  def lost(n: Int): Long = (0 until n).count(i => (seen.get(i >> 6) & (1L << (i & 63))) == 0).toLong
  def latencies(n: Int): Array[Long] = latencyUs.take(n)
}

/** Counts every record into [[Check]]: lost, duplicate and per-key
  * out-of-order deliveries are detected from the event id each payload
  * carries. */
final class CheckingSender extends RecordSender {
  override def send(partitionKey: String, data: Array[Byte], explicitHashKey: Option[String]): Unit =
    Check.record(partitionKey, data)
}

object LedgerStats {
  val marks = new AtomicLong
  val skips = new AtomicLong
  val markNs = new AtomicLong
}

/** Times and counts the calls the at-most-once path makes on its ledger. */
final case class TimingLedger(inner: BatchLedger) extends BatchLedger {
  override def markIfNew(groupId: String, batchId: Long): Boolean = {
    val t0 = System.nanoTime()
    val fresh = inner.markIfNew(groupId, batchId)
    LedgerStats.markNs.addAndGet(System.nanoTime() - t0)
    (if (fresh) LedgerStats.marks else LedgerStats.skips).incrementAndGet()
    fresh
  }
  override def isMarked(groupId: String, batchId: Long): Boolean = inner.isMarked(groupId, batchId)
}

/** The relay path both relay workloads measure: decode → flow → encode →
  * per-key ordered send into the checking sender. */
object Relay {
  val envelopeSchema: StructType = StructType(Seq(
    StructField("data", StringType), StructField("partitionKey", StringType),
    StructField("seq", LongType)))
  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("due_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Fixture event: user id, event type, value. */
  type Event = (Long, String, Double)

  /** Every row of the bundled sf0.01 events table. The relay workloads draw
    * their keys from it, so the key distribution is the fixture's. */
  def fixtureEvents(ctx: Ctx): Array[Event] =
    Tables.table(ctx.spark, Paths.get(ctx.args.data, "sf0.01").toString, "events")
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  def payload(id: Long, dueUs: Long, user: Long, kind: String, value: Double): String =
    s"""{"event_id":$id,"due_us":$dueUs,"user_id":$user,"event_type":"$kind","value":$value}"""

  /** One microbatch of the user flow; `b` is the inbound envelope batch. */
  def flow(b: DataFrame, sendPartitions: Int): Unit = {
    val decoded = TopicSource.decodeJson(b, payloadSchema)
    val flowed = decoded.select(col("payload.*"), col("seq"))
      .withColumn("value", round(col("value") * 1.1, 2))
    val env = TopicSource.encodeJsonOrdered(flowed, "seq", Some("user_id"))
    TopicSink.writeOrdered(env, "seq", () => new CheckingSender, sendPartitions)
  }

  /** Writes `n` envelopes as `files` parquet files, generated in parallel,
    * one seeded generator per file. Each record copies the user, type and
    * value of a fixture event drawn at random. */
  def stageBacklog(spark: SparkSession, dir: String, n: Int, files: Int, seed: Long,
                   events: Array[Event]): Unit = {
    val perFile = n / files
    val rows = spark.sparkContext.parallelize(0 until files, files).flatMap { f =>
      val rng = new scala.util.Random(seed * 1000003L + f)
      (f * perFile until (f + 1) * perFile).iterator.map { i =>
        val (user, kind, value) = events(rng.nextInt(events.length))
        Row(payload(i, 0L, user, kind, value), user.toString, i.toLong)
      }
    }
    spark.createDataFrame(rows, envelopeSchema).write.mode("overwrite").parquet(dir)
    // the file source admits files oldest first: give the files the
    // order of the event ids they hold, so stream order is id order
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - 1000L * parts.length
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + 1000L * i) }
  }

  def percentile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.ceil(q * sorted.length).toInt - 1).max(0))
}

/** `relay_bulk`: a staged backlog, keyed like the events fixture, drained
  * at full speed through `TopicRegistry.register` + `startAll`
  * (at-least-once delivery). One
  * pass is one drain of the whole backlog from a fresh checkpoint. */
final class RelayBulk(records: Int, files: Int, filesPerBatch: Int) extends Workload {
  // CPU per drain still falls over the first timed drains; a median of 5
  // leaves out the first
  override def minPasses: Int = 5
  private var stage = ""

  override def setup(ctx: Ctx): Unit = {
    stage = ctx.freshDir("backlog")
    Relay.stageBacklog(ctx.spark, stage, records, files, ctx.seed, Relay.fixtureEvents(ctx))
    // two untimed drains: the first one still runs partly interpreted
    drain(ctx, -1)
    drain(ctx, -1)
  }

  private def drain(ctx: Ctx, passId: Int): Pass = {
    val spark = ctx.spark
    val tracer = ctx.tracer.filter(_ => passId >= 0 && ctx.traced(passId))
    val registry = new GraftEngine.TopicRegistry(spark, ctx.freshDir("ckpt"))
    val src = FileTopicSource("relay-bulk", stage, "parquet", Relay.envelopeSchema,
      ConsumerConfig(None, maxBatchSize = filesPerBatch))
    val drainId = tracer.map(_.newId()).getOrElse(-1)
    @volatile var firstBatchNs = 0L
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    val batchCpu = mutable.ArrayBuffer.empty[Double]
    registry.register(GraftEngine.Subscription(src, "bulk", identity, { (b: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      val c0 = Main.cpuS()
      if (firstBatchNs == 0L) firstBatchNs = t0
      Relay.flow(b, ctx.cpus)
      val t1 = System.nanoTime()
      batchSecs += (t1 - t0) / 1e9
      batchCpu += Main.cpuS() - c0
      tracer.foreach(_.span("microbatch", s"batch-$id", t0, t1))
    }))
    val t0 = System.nanoTime()
    Check.reset(records, Check.nowUs())
    val queries = registry.startAll()
    val started = System.nanoTime()
    queries.foreach(_.awaitTermination())
    val t1 = System.nanoTime()
    registry.stopAll()
    tracer.foreach { tr =>
      queries.foreach(q => ctx.groupOwner(q.runId.toString) = drainId)
      tr.spanWithId(drainId, "drain", s"drain-$passId", t0, t1)
      tr.add("delivery.drains", 1)
      tr.add("delivery.start_ms", (firstBatchNs - t0) / 1e6)
      tr.add("engine.registry_start_ms", (started - t0) / 1e6)
      tr.add("connector.batches", batchSecs.size)
      tr.add("connector.sent_records", Check.records.get.toDouble)
      tr.add("connector.sent_mb", Check.bytes.get / 1e6)
    }
    val lost = Check.lost(records)
    val failed = lost + Check.duplicates.get + Check.disordered.get + Check.unknown.get
    if (failed > 0)
      Main.log(s"relay_bulk pass $passId: lost=$lost dup=${Check.duplicates.get} " +
        s"disordered=${Check.disordered.get} unknown=${Check.unknown.get}")
    val wall = (t1 - t0) / 1e9
    Pass(wall, records.toLong, wall, batchSecs.toSeq, batchCpu.toSeq,
      Check.latencies(records).map(_ / 1000.0), records.toLong, failed)
  }

  override def pass(ctx: Ctx, passId: Int): Pass = drain(ctx, passId)
}

/** One `relay_paced` drain: its wall seconds, and each microbatch's
  * process-CPU seconds and records sent. */
final case class Drain(wallS: Double, batches: Seq[(Double, Long)])

/** `relay_paced`: an open-loop generator process writes envelope files on
  * a fixed schedule while the engine drains back to back with
  * `Delivery.atMostOnce` over a `FileLedger`. The timed window is one
  * pass; each drain, one microbatch, is one operation. A record delivered later than
  * `latencyLimitMs` after its due time fails, like a lost one. */
final class RelayPaced(rate: Int, filesPerSecond: Int, latencyLimitMs: Double) extends Workload {
  override def tracesOwnUnits: Boolean = true
  private var users = 0

  override def setup(ctx: Ctx): Unit = {
    // keys are uniform over the fixture's user ids, 0 until `users`
    users = Relay.fixtureEvents(ctx).map(_._1).distinct.length
    // warm the same path on a small staged inbox
    val inbox = ctx.freshDir("warm-inbox")
    val perFile = rate / filesPerSecond
    (0 until 8).foreach { f =>
      val lines = (0 until perFile).map { i =>
        val id = f * perFile + i
        jsonLine(id, 0L, id % users)
      }
      Files.write(Paths.get(inbox, f"part-$f%06d.json"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    Check.reset(8 * perFile, Check.nowUs())
    val ckpt = ctx.freshDir("warm-ckpt")
    val ledger = TimingLedger(FileLedger(ctx.freshDir("warm-ledger")))
    (0 until 2).foreach(_ => drainOnce(ctx, inbox, ckpt, ledger, None, -1))
  }

  private def jsonLine(id: Long, dueUs: Long, user: Long): String = {
    val p = Relay.payload(id, dueUs, user, "view", 1.0).replace("\"", "\\\"")
    s"""{"data":"$p","partitionKey":"$user","seq":$id}"""
  }

  private def source(inbox: String) =
    // an admission cap above the window's file count makes every drain one
    // microbatch; at the default cap of 10 files, a backlog past the cap
    // took a second microbatch whose fixed cost grew the next backlog, and
    // runs settled at either 5 or 13 drains per window
    FileTopicSource("relay-paced", inbox, "json", Relay.envelopeSchema,
      ConsumerConfig(None, maxBatchSize = 1000))

  /** One drain. */
  private def drainOnce(ctx: Ctx, inbox: String, ckpt: String, ledger: BatchLedger,
                        tracer: Option[Tracer], drainNo: Int): Drain = {
    val drainId = tracer.map(_.newId()).getOrElse(-1)
    @volatile var firstBatchNs = 0L
    val batchCpu = mutable.ArrayBuffer.empty[(Double, Long)]
    val t0 = System.nanoTime()
    val q = Delivery.atMostOnce(source(inbox).load(ctx.spark), "paced", ckpt, ledger) {
      (b: DataFrame, id: Long) =>
        val s = System.nanoTime()
        val bc = Main.cpuS()
        val r0 = Check.records.get
        if (firstBatchNs == 0L) firstBatchNs = s
        Relay.flow(b, ctx.cpus)
        batchCpu += ((Main.cpuS() - bc, Check.records.get - r0))
        tracer.foreach(_.span("microbatch", s"batch-$id", s, System.nanoTime()))
    }
    val started = System.nanoTime()
    q.awaitTermination()
    val t1 = System.nanoTime()
    tracer.foreach { tr =>
      ctx.groupOwner(q.runId.toString) = drainId
      tr.spanWithId(drainId, "drain", s"drain-$drainNo", t0, t1)
      tr.add("delivery.drains", 1)
      if (firstBatchNs > 0) tr.add("delivery.start_ms", (firstBatchNs - t0) / 1e6)
      tr.add("engine.registry_start_ms", (started - t0) / 1e6)
      tr.add("connector.batches", batchCpu.size)
    }
    Drain((t1 - t0) / 1e9, batchCpu.toSeq)
  }

  override def pass(ctx: Ctx, passId: Int): Pass = {
    val inbox = ctx.freshDir("inbox")
    val ckpt = ctx.freshDir("ckpt")
    val ledger = TimingLedger(FileLedger(ctx.freshDir("ledger")))
    val summary = Paths.get(ctx.freshDir("loadgen"), "summary.json").toString
    val seconds = ctx.seconds
    val capacity = rate * (seconds + 2)
    val startUs = Check.nowUs() + 300000L
    Check.reset(capacity, 0L)
    Seq(LedgerStats.marks, LedgerStats.skips, LedgerStats.markNs).foreach(_.set(0))
    val gen = new ProcessBuilder("python3", "perfbench/loadgen.py",
      "--dir", inbox, "--rate", rate.toString, "--files-per-second", filesPerSecond.toString,
      "--seconds", seconds.toString, "--seed", ctx.seed.toString, "--users", users.toString,
      "--start-us", startUs.toString, "--summary", summary)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.INHERIT).start()
    val perFile = rate / filesPerSecond
    val intervalUs = 1000000L / filesPerSecond
    val totalFiles = seconds * filesPerSecond
    def dueSoFar(): Long = {
      val f = (Check.nowUs() - startUs) / intervalUs + 1
      math.max(0L, math.min(f, totalFiles.toLong)) * perFile
    }
    val drains = mutable.ArrayBuffer.empty[Drain]
    var lagMax = 0L
    var lagEnd = 0L
    def drain(): Unit = {
      val tracer = ctx.tracer.filter(_ => ctx.traced(drains.size))
      tracer.foreach(_.attach())
      drains += drainOnce(ctx, inbox, ckpt, ledger, tracer, drains.size)
      lagEnd = dueSoFar() - Check.records.get
      lagMax = math.max(lagMax, lagEnd)
      tracer.foreach(_.detach())
    }
    try {
      while (Check.nowUs() < startUs) Thread.sleep(5)
      while (Check.nowUs() < startUs + seconds * 1000000L) drain()
      if (!gen.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("load generator did not finish")
    } finally { gen.destroy(); gen.waitFor() }
    require(gen.exitValue() == 0, s"load generator exited with ${gen.exitValue()}")
    val gs = flatJson(new String(Files.readAllBytes(Paths.get(summary)), StandardCharsets.UTF_8))
    val generated = gs("records").toInt
    // catch up with whatever the generator wrote after the last drain
    var tries = 0
    while (Check.records.get < generated && tries < 5) { drain(); tries += 1 }
    // lost records never arrive: they count as past any latency limit
    val lat = Check.latencies(generated).map(us => if (us < 0) Double.PositiveInfinity else us / 1000.0)
    val lost = Check.lost(generated)
    val late = lat.count(ms => !ms.isInfinite && ms > latencyLimitMs)
    val failed = lost + late + Check.duplicates.get + Check.disordered.get + Check.unknown.get
    val maxMs = lat.filterNot(_.isInfinite).foldLeft(0.0)(math.max)
    Main.log(f"relay_paced: max latency $maxMs%.0f ms, limit $latencyLimitMs%.0f ms")
    if (failed > 0)
      Main.log(s"relay_paced: lost=$lost late=$late dup=${Check.duplicates.get} " +
        s"disordered=${Check.disordered.get} unknown=${Check.unknown.get}")
    // whole-window values, and ledger and send counts per drain
    val nDrains = drains.size.toDouble
    ctx.tracer.foreach { tr =>
      tr.add("loadgen.records", generated)
      tr.max("loadgen.late_p99_ms", gs("late_p99_ms"))
      tr.max("connector.lag_records_max", lagMax.toDouble)
      tr.max("connector.lag_records_end", lagEnd.toDouble)
      tr.max("delivery.ledger_marks", LedgerStats.marks.get / nDrains)
      tr.max("delivery.ledger_skips", LedgerStats.skips.get / nDrains)
      tr.max("delivery.ledger_mark_ms", LedgerStats.markNs.get / 1e6 / nDrains)
      tr.add("connector.sent_records", Check.records.get * tr.sum("delivery.drains") / nDrains)
      tr.add("connector.sent_mb", Check.bytes.get / 1e6 * tr.sum("delivery.drains") / nDrains)
    }
    val walls = drains.map(_.wallS).toSeq
    // the operation whose CPU is reported is the microbatch; batch sizes
    // follow the box's speed, so its CPU is taken per 1000 records sent
    val cpuPerKrecord = drains.flatMap(_.batches).collect { case (c, n) if n > 0 => c / (n / 1000.0) }
    Pass(Main.median(walls), generated.toLong, walls.sum, walls,
      cpuPerKrecord.toSeq, lat, generated.toLong, failed)
  }

  /** Reads the generator's flat `{"key": number, ...}` summary. */
  private def flatJson(s: String): Map[String, Double] =
    "\"([a-z_0-9]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
}
