package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `kind` is the span's level:
  * workload → run → member | drain → microbatch → action → job → stage. */
final case class Span(id: Int, kind: String, name: String, startNs: Long,
                      endNs: Long, group: String = "", parent: Int = -1,
                      stageIds: Seq[Int] = Nil) {
  def durNs: Long = endNs - startNs
}

/** Per-layer counters and spans, read only from Spark's public listener
  * interfaces and from the benchmark's own calls. Attached for traced
  * passes only; every value is a sum over the traced passes unless it
  * is registered with [[max]]. */
final class Tracer(spark: SparkSession) {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  private val maxes = new ConcurrentHashMap[String, java.lang.Double]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val sendRecords = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile var attached = false

  // Spark's listener events carry wall-clock millis; spans are kept on
  // the nanoTime axis, so events are converted through one fixed offset.
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def add(key: String, v: Double): Unit = sums.merge(key, v, (a, b) => a + b)
  def max(key: String, v: Double): Unit = maxes.merge(key, v, (a, b) => math.max(a, b))
  def sum(key: String): Double = Option(sums.get(key)).map(_.doubleValue).getOrElse(0.0)
  def maxOf(key: String): Double = Option(maxes.get(key)).map(_.doubleValue).getOrElse(0.0)

  def span(kind: String, name: String, startNs: Long, endNs: Long,
           group: String = "", stageIds: Seq[Int] = Nil): Int = {
    val id = nextId.getAndIncrement()
    spans.synchronized { spans += Span(id, kind, name, startNs, endNs, group, -1, stageIds) }
    id
  }
  def newId(): Int = nextId.getAndIncrement()
  def spanWithId(id: Int, kind: String, name: String, startNs: Long, endNs: Long,
                 group: String = ""): Unit =
    spans.synchronized { spans += Span(id, kind, name, startNs, endNs, group) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (msToNs(e.time), group, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        add("spark.jobs", 1)
        span("job", s"job-${e.jobId}", s._1, msToNs(e.time), s._2, s._3)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val start = info.submissionTime.getOrElse(0L)
      val end = info.completionTime.getOrElse(start)
      add("spark.stages", 1)
      span("stage", s"stage-${info.stageId}", msToNs(start), msToNs(end),
        stageIds = Seq(info.stageId))
      val m = info.taskMetrics
      val secs = (end - start) / 1000.0
      val recs = Option(sendRecords.remove(info.stageId)).getOrElse(mutable.ArrayBuffer.empty[Long])
      // relay send stage: the result stage of TopicSink.writeOrdered,
      // reading the key-partitioned shuffle; its map stage writes it
      if (m != null && m.shuffleWriteMetrics.bytesWritten > 0) {
        add("stage.map_s", secs)
        add("stage.map_shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      } else if (m != null && m.shuffleReadMetrics.recordsRead > 0 && recs.nonEmpty) {
        add("stage.send_s", secs)
        val mean = recs.sum.toDouble / recs.size
        if (mean > 0) max("stage.send_skew", recs.max / mean)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_s", m.executorRunTime / 1000.0)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1000.0)
        add("spark.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        if (e.taskType == "ResultTask" && m.shuffleReadMetrics.recordsRead > 0) {
          val recs = sendRecords.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          recs.synchronized { recs += m.shuffleReadMetrics.recordsRead }
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => onProgress(p.progress)
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("ops.stored_blocks", 1)
        add("ops.stored_mb", (b.memSize + b.diskSize) / 1e6)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.nanoTime()
      add("queries.actions", 1)
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("queries.analysis_ms", ms("analysis"))
      add("queries.optimization_ms", ms("optimization"))
      add("queries.planning_ms", ms("planning"))
      span("action", funcName, end - durationNs, end)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // Streaming progress reaches the shared listener bus for every
  // session, including the sessions catalog members derive
  private def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    def dur(k: String): Double = d.getOrElse(k, 0.0)
    add("streaming.batches", 1)
    add("stream.input_rows", p.numInputRows.toDouble)
    add("stream.source_ms", dur("latestOffset") + dur("getBatch"))
    add("stream.planning_ms", dur("queryPlanning"))
    add("stream.commit_ms", dur("walCommit") + dur("commitOffsets"))
    add("stream.add_batch_ms", dur("addBatch"))
    p.stateOperators.foreach { s =>
      max("streaming.state_rows", s.numRowsTotal.toDouble)
      max("streaming.state_mb", s.memoryUsedBytes / 1e6)
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Waits until every event posted so far has reached the listeners,
    * then detaches them. */
  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Links every span to its parent and returns (spans, self seconds per
    * kind). Jobs go to the member or drain whose job group they carry,
    * else to the innermost span that holds their start; stages go to the
    * job that lists them. */
  def resolve(groupOwner: Map[String, Int]): (Seq[Span], Map[String, Double]) = {
    val all = spans.synchronized(spans.toVector).sortBy(s => (s.startNs, -s.durNs))
    val byId = all.map(s => s.id -> s).toMap
    val level = Map("workload" -> 0, "run" -> 1, "member" -> 2, "drain" -> 2,
      "microbatch" -> 3, "action" -> 4, "job" -> 5, "stage" -> 6)
    val slackNs = 5000000L
    def holds(p: Span, c: Span): Boolean =
      p.startNs - slackNs <= c.startNs && c.startNs <= p.endNs + slackNs
    def innermost(c: Span, within: Seq[Span]): Int =
      within.filter(p => p.id != c.id && level(p.kind) < level(c.kind) && holds(p, c))
        .sortBy(p => (-level(p.kind), p.durNs)).headOption.map(_.id).getOrElse(-1)
    val jobOfStage = all.filter(_.kind == "job").flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val linked = all.map { s =>
      val parent = s.kind match {
        case "stage" => jobOfStage.getOrElse(s.stageIds.head, innermost(s, all))
        case "job" =>
          groupOwner.get(s.group) match {
            case Some(owner) =>
              val o = byId(owner)
              val inside = all.filter(p => p.id == owner ||
                (holds(o, p) && level(p.kind) > level(o.kind)))
              val p = innermost(s, inside)
              if (p >= 0) p else owner
            case None => innermost(s, all)
          }
        case _ => innermost(s, all)
      }
      s.copy(parent = parent)
    }
    val children = linked.groupBy(_.parent)
    val self = linked.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        (s.durNs - Tracer.unionNs(kids)) / 1e9
      }.sum
    }
    (linked, self)
  }

  /** Seconds in which at least one job was running, over all jobs. */
  def jobBusySeconds(): Double =
    Tracer.unionNs(spans.synchronized(spans.filter(_.kind == "job").map(s => (s.startNs, s.endNs)).toVector)) / 1e9
}

object Tracer {
  /** Length of the union of intervals; empty intervals count for nothing. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var a = Long.MinValue; var b = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > b) { if (b > a) total += b - a; a = s; b = e } else b = math.max(b, e)
    }
    if (b > a) total += b - a
    total
  }
}
