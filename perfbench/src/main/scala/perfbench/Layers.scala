package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The traced run's per-layer metrics and its span report. */
object Layers {
  /** Every per-layer metric, in `BENCHMARK.json` order, with its unit.
    * Sums are per traced unit (pass, or drain for `relay_paced`). */
  val metrics: Seq[(String, String)] = Seq(
    "connector.map_stage_s" -> "s", "connector.send_stage_s" -> "s",
    "connector.shuffle_write_mb" -> "MB", "connector.send_skew" -> "ratio",
    "connector.sent_records" -> "count", "connector.sent_mb" -> "MB",
    "connector.batches" -> "count", "connector.rows_per_batch" -> "count",
    "connector.source_ms" -> "ms", "connector.lag_records_max" -> "count",
    "connector.lag_records_end" -> "count",
    "delivery.drains" -> "count", "delivery.start_ms" -> "ms",
    "delivery.planning_ms" -> "ms", "delivery.commit_ms" -> "ms",
    "delivery.batch_fn_ms" -> "ms", "delivery.ledger_marks" -> "count",
    "delivery.ledger_skips" -> "count", "delivery.ledger_mark_ms" -> "ms",
    "engine.session_s" -> "s", "engine.registry_start_ms" -> "ms",
    "engine.peak_rss_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "queries.actions" -> "count", "queries.analysis_ms" -> "ms",
    "queries.optimization_ms" -> "ms", "queries.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "ops.stored_mb" -> "MB", "ops.stored_blocks" -> "count",
    "ops.checkpoint_live" -> "count",
    "loadgen.records" -> "count", "loadgen.late_p99_ms" -> "ms",
    "trace.self_s.run" -> "s", "trace.self_s.member" -> "s", "trace.self_s.drain" -> "s",
    "trace.self_s.microbatch" -> "s", "trace.self_s.action" -> "s",
    "trace.self_s.job" -> "s", "trace.self_s.stage" -> "s",
    "trace.overhead" -> "ratio", "trace.error_rate" -> "ratio",
    "wall.records_per_s" -> "1/s", "wall.latency_p50_ms" -> "ms", "wall.latency_p99_ms" -> "ms",
    "wall.pass_s" -> "s", "wall.op_geomean_s" -> "s", "wall.setup_s" -> "s")

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def report(ctx: Ctx, w: Workload, tr: Tracer, passes: Seq[Pass],
             endToEnd: Seq[(String, String, Double)], sessionS: Double, runS: Double,
             attempted: Long, failed: Long): Seq[(String, String, Double)] = {
    val traced = passes.indices.filter(i => w.tracesOwnUnits || ctx.traced(i))
    val tracedPasses = traced.map(passes)
    val units = if (w.tracesOwnUnits) math.max(1.0, tr.sum("delivery.drains")) else traced.size.toDouble
    val (spans, self) = tr.resolve(ctx.groupOwner.toMap)
    val busy = tr.jobBusySeconds()
    // wall of the traced units: passes, or the paced drains
    val tracedWall =
      if (w.tracesOwnUnits) spans.filter(_.kind == "drain").map(_.durNs / 1e9).sum
      else tracedPasses.map(_.wallS).sum
    val overhead = {
      val byFlag = passes.indices.partition(i => ctx.traced(i))
      if (w.tracesOwnUnits) {
        val (t, u) = passes.flatMap(_.opsS).zipWithIndex.partition(p => ctx.traced(p._2))
        if (t.isEmpty || u.isEmpty) 0.0 else Main.median(t.map(_._1)) / Main.median(u.map(_._1)) - 1
      } else if (byFlag._1.isEmpty || byFlag._2.isEmpty) 0.0
      else Main.median(byFlag._1.map(passes(_).wallS)) / Main.median(byFlag._2.map(passes(_).wallS)) - 1
    }
    def per(k: String): Double = tr.sum(k) / units
    val batches = tr.sum("streaming.batches")
    // the relay's stages and microbatches are the connector and delivery
    // layers; on the member workloads the same events belong to members
    val isRelay = ctx.args.workload.startsWith("relay")
    def relay(x: Double): Double = if (isRelay) x else 0.0
    val v: Map[String, Double] = Map(
      "connector.map_stage_s" -> relay(per("stage.map_s")),
      "connector.send_stage_s" -> relay(per("stage.send_s")),
      "connector.shuffle_write_mb" -> relay(per("stage.map_shuffle_write_bytes") / 1e6),
      "connector.send_skew" -> relay(tr.maxOf("stage.send_skew")),
      "connector.sent_records" -> per("connector.sent_records"),
      "connector.sent_mb" -> per("connector.sent_mb"),
      "connector.batches" -> per("connector.batches"),
      "connector.rows_per_batch" -> relay(if (batches > 0) tr.sum("stream.input_rows") / batches else 0.0),
      "connector.source_ms" -> relay(per("stream.source_ms")),
      "connector.lag_records_max" -> tr.maxOf("connector.lag_records_max"),
      "connector.lag_records_end" -> tr.maxOf("connector.lag_records_end"),
      "delivery.drains" -> per("delivery.drains"),
      "delivery.start_ms" -> per("delivery.start_ms"),
      "delivery.planning_ms" -> relay(per("stream.planning_ms")),
      "delivery.commit_ms" -> relay(per("stream.commit_ms")),
      "delivery.batch_fn_ms" -> relay(per("stream.add_batch_ms")),
      "delivery.ledger_marks" -> tr.maxOf("delivery.ledger_marks"),
      "delivery.ledger_skips" -> tr.maxOf("delivery.ledger_skips"),
      "delivery.ledger_mark_ms" -> tr.maxOf("delivery.ledger_mark_ms"),
      "engine.session_s" -> sessionS,
      "engine.peak_rss_mb" -> Main.peakRssMb(),
      "engine.registry_start_ms" -> per("engine.registry_start_ms"),
      "streaming.batches" -> (if (isRelay) 0.0 else per("streaming.batches")),
      "streaming.state_rows" -> tr.maxOf("streaming.state_rows"),
      "streaming.state_mb" -> tr.maxOf("streaming.state_mb"),
      "queries.actions" -> per("queries.actions"),
      "queries.analysis_ms" -> per("queries.analysis_ms"),
      "queries.optimization_ms" -> per("queries.optimization_ms"),
      "queries.planning_ms" -> per("queries.planning_ms"),
      "spark.jobs" -> per("spark.jobs"),
      "spark.stages" -> per("spark.stages"),
      "spark.tasks" -> per("spark.tasks"),
      "spark.job_busy_s" -> busy / units,
      "spark.driver_gap_s" -> math.max(0.0, tracedWall - busy) / units,
      "spark.executor_run_s" -> per("spark.executor_run_s"),
      "spark.executor_cpu_s" -> per("spark.executor_cpu_s"),
      "spark.shuffle_read_mb" -> per("spark.shuffle_read_mb"),
      "spark.shuffle_write_mb" -> per("spark.shuffle_write_mb"),
      "spark.spill_mb" -> per("spark.spill_mb"),
      "spark.gc_s" -> per("spark.gc_s"),
      "ops.stored_mb" -> per("ops.stored_mb"),
      "ops.stored_blocks" -> per("ops.stored_blocks"),
      "ops.checkpoint_live" -> tr.maxOf("ops.checkpoint_live"),
      "loadgen.records" -> tr.sum("loadgen.records"),
      "loadgen.late_p99_ms" -> tr.maxOf("loadgen.late_p99_ms"),
      "trace.overhead" -> overhead,
      "trace.error_rate" -> (if (attempted > 0) failed.toDouble / attempted else 1.0)
    ) ++ Seq("run", "member", "drain", "microbatch", "action", "job", "stage")
      .map(k => s"trace.self_s.$k" -> self.getOrElse(k, 0.0) / units) ++
      endToEnd.collect { case (k, _, x) if k.startsWith("wall.") => k -> x }
    val out = metrics.map { case (k, u) => (k, u, v(k)) }

    if (ctx.args.report.nonEmpty) {
      val spanJson = spans.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      }.mkString("[\n", ",\n", "\n]")
      def obj(xs: Seq[(String, String, Double)]) =
        xs.map { case (k, u, x) => s"""${str(k)}: {"value": ${num(x)}, "unit": ${str(u)}}""" }
          .mkString("{", ", ", "}")
      val layerSelf = self.toSeq.sortBy(-_._2)
        .map { case (k, x) => s"""${str(k)}: ${num(x / units)}""" }.mkString("{", ", ", "}")
      val body =
        s"""{"workload": ${str(ctx.args.workload)}, "seed": ${ctx.seed}, "run_s": $runS,
           |"traced_units": $units, "tracing_overhead": ${num(overhead)},
           |"end_to_end": ${obj(endToEnd.filterNot(_._1.startsWith("wall.")))},
           |"per_layer": ${obj(out)},
           |"self_s_per_unit": $layerSelf,
           |"spans": $spanJson}
           |""".stripMargin
      Files.createDirectories(Paths.get(ctx.args.report).getParent)
      Files.write(Paths.get(ctx.args.report), body.getBytes(StandardCharsets.UTF_8))
    }
    out
  }
}
