package graft


/** Bench main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are executed through the `noop` sink so every projected column
  * is actually computed — `count()` would let Catalyst prune the very
  * expressions being benchmarked.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the one true conf posture: GraftEngine.recommendedConfs
    val spark = graft.engine.GraftEngine
      .sessionBuilder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JIT/codegen warmup on the smallest fixture (not measured)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Quiesce gate: the bench usually runs minutes after a full Verify
    // sweep on the same box, and residual load/kernel reclaim inflates
    // timings 1.3-2x uniformly for up to ~10 min (the round-5 "+13%
    // with untouched queries +30-115%" signature). Wait — bounded — for
    // the 1-min loadavg to drop below cpus/4 before measuring, so the
    // snapshot measures the engine, not the scheduler's mood. Cap
    // tuning, measured (round 6, same code, like-for-like vs the r4
    // baseline): started hot right after a full verify+test gate the
    // suite read 1.108; idle-box runs read 0.968-1.051 — so the box
    // carries ±8% run-to-run spread even quiesced, and the gate is
    // worth its full 4 min when (as in the driver sequence) a verify
    // sweep just ended. min-of-3 absorbs the remainder.
    // SPARK_GRAFT_QUIESCE_SECS=0 disables.
    // cap trimmed 240→120 in round 11: the wait competes with the pass
    // budget below, and min-of-3 + per-pass line printing now absorb
    // what a longer quiesce used to
    val quiesceCap = sys.env.getOrElse("SPARK_GRAFT_QUIESCE_SECS", "120").toInt
    val loadGate = cpus.toDouble / 4.0
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }
    val qt0 = System.nanoTime()
    while (load1() > loadGate &&
        (System.nanoTime() - qt0) / 1e9 < quiesceCap) {
      System.err.println(f"[bench] quiesce: load1=${load1()}%.1f > $loadGate%.1f, waiting")
      Thread.sleep(5000)
    }

    // dev aid: SPARK_GRAFT_ONLY=q35,q36 restricts the run to matching
    // query-name prefixes (driver runs always leave it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

    // ── §2a relay throughput: the reference's entire reason to exist is
    // the topic relay (source → decode → user flow → ordered sink,
    // Producer.scala:247-249 / KinesisSubscriberActor.scala:138-172),
    // so the bench carries one measured records/s number for it:
    // the events fixture staged as a multi-file envelope stream, then
    // file source → JSON decode → to_json re-encode → per-key
    // ordered serial sends ([[graft.connector.TopicSink.writeOrdered]]),
    // microbatched by the admission cap. min-of-3, fresh checkpoint per
    // run; exactly-once asserted by delivered count. Measured BEFORE
    // the query passes (also warms the streaming path) and guarded so
    // a failure can never cost the result line.
    val relay: (Long, Seq[Double]) =
      if (only.exists(!_.exists(p => "relay".startsWith(p)))) (0L, Nil)
      else try {
        // per-run temp root (the stage plus one checkpoint per pass): a
        // fixed shared path would let two bench processes overwrite
        // each other's stage mid-read
        val root = java.nio.file.Files
          .createTempDirectory("graft-relay").toString
        val stageDir = s"$root/stage"
        try {
          import org.apache.spark.sql.functions._
          import org.apache.spark.sql.types._
          import graft.connector.{FileTopicSource, TopicSink, TopicSource}
          import graft.delivery.Delivery
          import graft.model.ConsumerConfig
          val events = graft.ops.Tables.table(spark, sfDir, "events")
          // stage (unmeasured): envelope rows across 24 files so the
          // 8-file admission cap yields 3 microbatches
          events.select(
              to_json(struct(col("event_id"), col("user_id"),
                col("event_type"), col("value"))).cast("binary").as("data"),
              col("user_id").cast("string").as("partitionKey"),
              col("event_id").as("seq"))
            .repartition(24).write.mode("overwrite").parquet(stageDir)
          val n = events.count()
          val envSchema = StructType(Seq(
            StructField("data", BinaryType), StructField("partitionKey", StringType),
            StructField("seq", LongType)))
          val payloadSchema = StructType(Seq(
            StructField("event_id", LongType), StructField("user_id", LongType),
            StructField("event_type", StringType), StructField("value", DoubleType)))
          val src = FileTopicSource("relay-bench", stageDir, "parquet",
            envSchema, ConsumerConfig(None, maxBatchSize = 8))
          // one consumer group (= fresh checkpoint) per pass
          val dts = (1 to 3).map { pass =>
            TopicSink.CountingSender.reset()
            val t0 = System.nanoTime()
            Delivery.atLeastOnce(src.load(spark), s"relay-$pass", root) { (b, _) =>
              val decoded = TopicSource.decodeJson(b, payloadSchema)
              val flowed = decoded.select(col("payload.*"), col("seq"))
              val env = TopicSource.encodeJsonOrdered(flowed, "seq",
                Some("user_id"))
              TopicSink.writeOrdered(env, "seq",
                () => new TopicSink.CountingSender, cpus.toInt)
            }.awaitTermination()
            val dt = (System.nanoTime() - t0) / 1e9
            require(TopicSink.CountingSender.records.get() == n,
              s"relay lost records: ${TopicSink.CountingSender.records.get()} of $n")
            dt
          }
          (n, dts)
        } finally graft.ops.LocalFiles.deleteRecursively(root)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] relay failed: ${e.getMessage}")
        (0L, Nil)
      }
    // per-pass relay rps (pass order preserved): the single-number
    // relay was the suite's noisiest cross-round signal (54k vs 80k
    // same-night, round 12) — min/median over the three passes plus
    // the per-pass values themselves go to the members artifact below
    val relayRps: Seq[Double] = relay._2.map(dt => relay._1 / dt)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    def once(): Seq[(String, Double)] = selected.flatMap { case (name, fn) =>
      // phase context: PhaseTimer-wrapped sections inside the query
      // (q231's base peel, q232's register init) report as extra
      // `<member>.<label>` members in the JSON artifact below — base
      // vs advance separated in the driver artifact (round-14 #7)
      graft.ops.PhaseTimer.setContext(name.takeWhile(_ != '_'))
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ops.PhaseTimer.clearContext()
      val phases = graft.ops.PhaseTimer.drain()
      // library ops persist intermediates (e.g. LSH signature tables);
      // drop them so one query's cache cannot pressure the next
      spark.catalog.clearCache()
      (name -> dt) +: phases
    }
    // The harness that consumes this line keeps only a bounded tail of
    // stdout, so the line must stay short: keys are the qNN prefix of each
    // catalog name (unique by construction). Per-query values carry two
    // decimals (10 ms resolution — this box's run-to-run noise is an
    // order of magnitude above that); the total keeps three. Trimmed in
    // round 8 at 132 queries/1743 chars; round 9 adds the FAMILY ROLLUP
    // policy (the round-8 verdict's ask #8, decided before overflow
    // rather than under it): the nine streaming-gate entries report as
    // ONE "q12x" key carrying the family total — their cost is
    // harness-dominated (engine startup + state-store setup, see
    // SCALING.md round-9 note), so the per-entry split carries no
    // cross-round signal the family total doesn't; per-entry numbers
    // remain available via SPARK_GRAFT_ONLY=q122,...,q130. Batch
    // queries stay per-key. Budget at 138 queries: 130 keys ≈ 1.7 KB.
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // per-query values carry ONE decimal (round-11 verdict's line-budget
    // policy, implemented before overflow: 100 ms resolution is still an
    // order of magnitude under this box's ±8% run-to-run spread, and the
    // char saved per key buys 2+ future families of headroom)
    def sec1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def buildLine(results0: Seq[(String, Double)]): String = {
    // q147 (the composed ingest pipeline) deliberately keeps its OWN
    // key rather than riding q12x: the rollup's cross-round
    // comparability depends on its member set staying fixed at the
    // nine round-8 entries
    // phase members ("q231.base") are COMPONENTS of an already-counted
    // member — artifact-only; the stdout line and total must not
    // double-count them
    val results = results0.filterNot(_._1.contains('.'))
    val streamFamily = "^q12[2-9]$|^q130$".r
    // q150+ roll up ONE KEY PER DECADE (q15x, q16x, … q21x, q22x, …) —
    // the line-length budget rule: new families roll up, established
    // per-query keys (q01–q149) stay comparable. The decade rule is
    // computed, not hand-listed, so every future family folds in
    // without touching this file. Per-entry numbers remain available
    // via SPARK_GRAFT_ONLY=q150,…
    val decadeFamily = "^q(1[5-9]|[2-9][0-9])[0-9]$".r
    val rollupFamily = only.isEmpty // a restricted dev run keeps per-entry keys
    val keyed = results.map { case (k, v) => (k.takeWhile(_ != '_'), v) }
    val (fam, rest0) =
      keyed.partition { case (k, _) => rollupFamily && streamFamily.findFirstIn(k).isDefined }
    val (dec, rest) =
      rest0.partition { case (k, _) => rollupFamily && decadeFamily.findFirstIn(k).isDefined }
    val entries = rest ++
      (if (fam.nonEmpty) Seq(("q12x", fam.map(_._2).sum)) else Nil) ++
      dec.groupBy(_._1.take(3) + "x").toSeq
        .map { case (k, vs) => (k, vs.map(_._2).sum) }
    val qs = entries.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + sec1(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val relayJson =
      if (relayRps.nonEmpty)
        s""","relay_rps":${relayRps.max.toLong},"relay_rows":${relay._1}"""
      else ""
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"$relayJson}"""
    // the consumer keeps only the LAST 2000 chars of stdout; the line
    // survives as long as line + trailing sbt epilogue (~150 chars)
    // fits. At 1 decimal + decade rollups, 212 queries ≈ 1.65 KB and
    // each future decade family adds ~12 chars — warn at 1750 so any
    // unforeseen growth is trimmed BEFORE a round's bench line gets
    // silently beheaded.
    if (line.length > 1750)
      System.err.println(s"[bench] WARNING: result line ${line.length} chars — approaching the 2000-char consumer tail; fold q13x/q14x into decade rollups next")
    line
    }
    // per-query MIN over SPARK_GRAFT_RUNS full passes (default 3):
    // the bench often runs right after a correctness sweep on the same
    // box, and transient load inflates isolated queries by up to ~8x —
    // the min of independent passes reports the machine's actual
    // capability rather than the scheduler's mood. Three passes (first
    // doubles as whole-suite JIT warmup, min discards it) because the
    // round-5 min-of-2 snapshot still drifted +13% like-for-like under
    // residual load the quiesce gate above now also absorbs.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    // wall-clock budget guard: the harness running this main may have
    // its own timeout; never START a new pass once the budget is spent
    // (the quiesce wait above counts against the same clock) and report
    // the min over the passes that did run. Default raised 450→900 in
    // round 11: the old 450 was defensive, not a measured limit — it is
    // what stopped the round-10 driver run at min-of-2 (the degradation
    // the verdict flagged), while the driver itself has completed 652 s
    // runs (round 9) with rc=0 and has never been observed killing one.
    // Raised 900→1200 in round 12: the 218-query catalog runs
    // ~300-320 s per pass hot, and at 900 the third pass started with
    // only ~310 s of nominal headroom — one bad quiesce away from
    // min-of-2 (the round-10 failure mode). 1200 fits quiesce + relay
    // + three passes with margin; the budget only gates STARTING a
    // pass, and the per-pass line reprint below keeps every pass a
    // safe commit point regardless.
    val budgetSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SECS", "1200").toInt
    def elapsed(): Double = (System.nanoTime() - qt0) / 1e9
    val passes = scala.collection.mutable.ArrayBuffer[Seq[(String, Double)]]()
    // Per-member artifact (round-12 verdict ask #2): the stdout line
    // rolls q150+ into decade families and quantizes to 1 decimal —
    // correct for the bounded consumer tail, but it destroyed the
    // cross-round per-key signal (a rollup changing member composition
    // reads as a regression; 0.23→"0.3" reads as 1.3×). The FULL
    // per-member timings (every pass + the running min, 3 decimals)
    // therefore go to a committed JSON artifact, rewritten after each
    // pass so a mid-run kill still leaves a complete file. Relay
    // per-pass rps ride along (verdict ask #6 — min/median from data,
    // not one noisy number). Full runs only: a SPARK_GRAFT_ONLY dev
    // run would overwrite the committed artifact with a partial map.
    val membersPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_MEMBERS",
      if (only.isEmpty) "BENCH_MEMBERS.json" else "")
    def jnum(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def writeMembers(): Unit = if (membersPath.nonEmpty) try {
      val names = passes.head.map(_._1.takeWhile(_ != '_'))
      val byPass = passes.map(p =>
        names.zip(p.map(_._2)).map { case (k, v) => s""""$k":${jnum(v)}""" }
          .mkString("{", ",", "}"))
      val mins = passes.map(_.map(_._2))
        .reduce((a, b) => a.zip(b).map { case (x, y) => math.min(x, y) })
      val minJson = names.zip(mins)
        .map { case (k, v) => s""""$k":${jnum(v)}""" }.mkString("{", ",", "}")
      val relayJsonA =
        if (relayRps.isEmpty) "null"
        else {
          val sortedR = relayRps.sorted
          val med = sortedR(sortedR.size / 2)
          s"""{"rows":${relay._1},"rps_passes":[${relayRps.map(r => jnum(r)).mkString(",")}],"rps_max":${jnum(relayRps.max)},"rps_median":${jnum(med)}}"""
        }
      val out =
        s"""{"sf":"$sfDir","runs":${passes.size},"relay":$relayJsonA,"passes":[${byPass.mkString(",")}],"min":$minJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(membersPath),
        out.getBytes("UTF-8"))
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] members artifact failed: ${e.getMessage}")
    }
    while (passes.size < runs && (passes.isEmpty || elapsed() < budgetSecs)) {
      passes += once()
      System.err.println(f"[bench] ${passes.size}%d of $runs%d passes in ${elapsed()}%.0f s")
      writeMembers()
      // the consumer keeps only a bounded stdout tail, so the LAST
      // complete line printed is the one that survives — printing the
      // cumulative min after each pass makes every pass a safe commit
      // point (a kill mid-pass N leaves pass N-1's line as the result)
      println(buildLine(passes
        .reduce((a, b) => a.zip(b).map { case ((n, x), (_, y)) => (n, math.min(x, y)) })))
    }
    spark.stop()
  }
}
