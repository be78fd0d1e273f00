package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.GraftEngine

/** One timed unit of a workload (one drain of the backlog, one paced
  * window, one pass over a member set).
  *  - `wallS`: the unit's wall time (for the paced window: its median drain);
  *  - `records` / `busyS`: records delivered (or result rows checked) and
  *    the seconds they took;
  *  - `opsS` / `opsCpuS`: each operation's wall and process-CPU seconds
  *    (microbatch, drain or member call);
  *  - `latMs`: one latency sample per record (relay) or member call;
  *  - `cpuS`: process CPU seconds of the whole unit. */
final case class Pass(wallS: Double, records: Long, busyS: Double, opsS: Seq[Double],
                      opsCpuS: Seq[Double], latMs: Array[Double], attempted: Long,
                      failed: Long, cpuS: Double = 0.0)

trait Workload {
  /** Stage inputs and warm up, once, before the timed passes. */
  def setup(ctx: Ctx): Unit
  def pass(ctx: Ctx, passNo: Int): Pass
  /** True when the workload attaches the tracer per operation itself. */
  def tracesOwnUnits: Boolean = false
  /** Passes every run makes; the CPU metrics are taken over these, so a
    * fast and a slow run measure the same passes. */
  def minPasses: Int = 1
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: String, report: String, data: String, tmp: String,
                      cpus: Int, record: Boolean)

final class Ctx(val args: Args) {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  val groupOwner: mutable.Map[String, Int] = mutable.Map.empty
  private var dirs = 0
  def seed: Long = args.seed
  def cpus: Int = args.cpus
  def seconds: Int = args.seconds
  /** Odd units are traced, even ones not, so one run measures both. */
  def traced(unit: Int): Boolean = tracer.isDefined && unit % 2 == 1
  def freshDir(name: String): String = {
    dirs += 1
    val d = Paths.get(args.tmp, f"$dirs%04d-$name")
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("out"), kv.getOrElse("report", ""), need("data"), need("tmp"), need("cpus").toInt,
      kv.get("record").contains("1"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "relay_bulk" => new RelayBulk(records = 120000, files = 12, filesPerBatch = 3)
    // rate: a third of the paced path's measured capacity; limit: twice the
    // largest latency measured at that rate (NOTES.md)
    case "relay_paced" => new RelayPaced(rate = 10000, filesPerSecond = 10, latencyLimitMs = 10000)
    case "catalog_mix" => new Members(Members.catalog)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(a: Args): SparkSession = {
    val spark = GraftEngine.sessionBuilder(s"local[${a.cpus}]", a.cpus)
      .config("spark.local.dir", Paths.get(a.tmp, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.tmp, "warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** The user-visible wall-clock figures, reported with the traced run. */
  def wallMetrics(passes: Seq[Pass], setupS: Double): Seq[(String, String, Double)] = {
    val lat = passes.flatMap(_.latMs).toArray.sorted
    Seq(
      ("wall.records_per_s", "1/s", median(passes.map(p => p.records / p.busyS))),
      ("wall.latency_p50_ms", "ms", Relay.percentile(lat, 0.50)),
      ("wall.latency_p99_ms", "ms", Relay.percentile(lat, 0.99)),
      ("wall.pass_s", "s", median(passes.map(_.wallS))),
      ("wall.op_geomean_s", "s", geomean(passes.flatMap(_.opsS))),
      ("wall.setup_s", "s", setupS))
  }

  /** CPU seconds this process has run, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = new Ctx(a)
    val w = workload(a)

    // set-up: session start, input staging and warm-up. It runs once:
    // engine code keeps references to its session, so the session cannot
    // be restarted in-process, and a second warm-up costs a timed pass.
    val t0Setup = System.nanoTime()
    ctx.spark = session(a)
    val sessionS = (System.nanoTime() - t0Setup) / 1e9
    w.setup(ctx)
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    val setupCpuS = cpuS()
    log(f"set-up: $setupS%.2f s, of which session $sessionS%.2f s, cpu $setupCpuS%.2f s")
    if (a.record) { Members.record(ctx); ctx.spark.stop(); return }
    if (a.trace) ctx.tracer = Some(new Tracer(ctx.spark))

    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    // a traced run measures untraced, traced, untraced passes at least
    val minPasses = if (a.trace && !w.tracesOwnUnits) math.max(3, w.minPasses) else w.minPasses
    // another pass starts while the window is open and would end within
    // half a window past it
    def more(): Boolean = {
      val el = (System.nanoTime() - t0) / 1e9
      passes.size < minPasses ||
        (el < a.seconds && el + el / passes.size <= 1.5 * a.seconds)
    }
    while (more()) {
      val tr = ctx.tracer.filter(_ => !w.tracesOwnUnits && ctx.traced(passes.size))
      tr.foreach(_.attach())
      val s = System.nanoTime()
      val c0 = cpuS()
      passes += w.pass(ctx, passes.size).copy(cpuS = cpuS() - c0)
      val e = System.nanoTime()
      log(f"pass ${passes.size - 1}: ${(e - s) / 1e9}%.2f s, cpu ${passes.last.cpuS}%.2f s, ${passes.last.records} records")
      tr.foreach(_.detach())
      ctx.tracer.filter(_ => w.tracesOwnUnits || tr.isDefined)
        .foreach(_.span("run", s"pass-${passes.size - 1}", s, e))
    }
    val runS = (System.nanoTime() - t0) / 1e9
    ctx.tracer.foreach(_.span("workload", a.workload, t0, System.nanoTime()))

    // End-to-end metrics are process CPU time: on a shared VM, stolen
    // time moves wall-clock figures by 20-50% between runs (NOTES.md).
    val timed = passes.take(w.minPasses).toSeq
    val endToEnd = Seq(
      ("pass_cpu_s", "s", median(timed.map(_.cpuS))),
      ("op_cpu_geomean_ms", "ms", geomean(timed.flatMap(_.opsCpuS)) * 1000),
      ("setup_s", "s", setupCpuS))
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val metrics = ctx.tracer match {
      case None => endToEnd
      case Some(tr) =>
        val plain = if (w.tracesOwnUnits) passes.toSeq
          else passes.indices.filterNot(ctx.traced).map(passes)
        Layers.report(ctx, w, tr, passes.toSeq, endToEnd ++ wallMetrics(plain, setupS),
          sessionS, runS, attempted, failed)
    }
    ctx.spark.stop()
    val json = metrics.map { case (k, u, v) =>
      require(!v.isNaN, s"metric $k is not a number")
      // a lost record's latency is past any limit
      s""""$k": {"value": ${if (v.isInfinite) 1e9 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val correct = failed == 0 && attempted > 0
    val line = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}"""
    Files.write(Paths.get(a.out), (line + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
