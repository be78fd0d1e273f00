package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.ops.Tables.dsum

/** Streaming operator surface (SURVEY.md §2b streaming rows): windowed
  * aggregations with watermarks, streaming dedup, arbitrary stateful
  * processing, stream-static joins.
  *
  * These are thin, tested builders over Structured Streaming — the
  * operators themselves are Catalyst-planned and state-store-backed, so
  * they scale with shuffle partitions; the builders pin the semantics
  * (watermark column, gap, output mode) in one place.
  */
object StreamOps {

  /** Tumbling event-time counts per key with late-data eviction. */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Session windows per key (gap-based) with watermark. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col(keyCol), col("n"))

  /** Streaming dedup on an id column; watermark bounds the dedup state —
    * this is the reference's at-least-once upgraded to effective-once
    * (SURVEY.md §2b "Streaming dedup"). */
  def dedupped(events: DataFrame, tsCol: String, idCol: String,
               watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(idCol, tsCol)

  /** Streaming replay dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark`: unlike [[dedupped]] (whose key
    * set includes the event time, so only exact-timestamp re-delivery
    * collapses), this dedups on the BUSINESS key alone while the
    * watermark bounds how long each key's state lives: a re-delivery
    * arriving while the first occurrence's state is live is dropped; a
    * re-delivery arriving after the watermark evicted it is emitted
    * AGAIN. That second emission is the DOCUMENTED trade of bounding
    * dedup state at 100 TB — the contract is effective-once within the
    * delay horizon, at-least-once beyond it — and the q212 gate pins
    * exactly where the engine draws that line (state expiry =
    * event time + delay against the ms-floored watermark). */
  def deduppedWithinWatermark(events: DataFrame, tsCol: String,
                              keyCols: Seq[String], delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: events of stream `a` match events of
    * stream `b` with the same key whose timestamp falls within
    * [a.ts - before, a.ts + after]. Watermarks bound the join state on
    * both sides — without them the engine would buffer both streams
    * forever. `joinType` is `"inner"`, `"left_outer"` or
    * `"full_outer"`.
    *
    * An outer join emits an unmatched row null-padded only once the
    * (min-across-sides) watermark PROVES no future partner can arrive:
    * an `a` row when its `ts + after` horizon falls below the join's
    * state watermark, and under `"full_outer"` with symmetric bounds
    * (`before` = `after` = h) a `b` row when its `ts + h` does. An
    * unmatched row whose horizon is still open when the stream ends is
    * withheld, not emitted: null emission is an eviction event, never
    * a stream-end flush. Matched rows emit like the inner join.
    * Watermarks on BOTH sides are mandatory for outer emission (the
    * engine needs a bound to declare "no more matches"). */
  def streamStreamJoin(a: DataFrame, b: DataFrame,
                       keyA: String, keyB: String,
                       tsA: String, tsB: String,
                       watermark: String, before: String, after: String,
                       joinType: String = "inner"): DataFrame =
    a.withWatermark(tsA, watermark)
      .join(b.withWatermark(tsB, watermark),
        expr(s"$keyA = $keyB AND $tsB BETWEEN $tsA - INTERVAL $before " +
          s"AND $tsA + INTERVAL $after"),
        joinType)

  /** Stream-static enrichment join (dimension broadcast per microbatch). */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
             dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left_outer")

  /** Streaming near-duplicate flagging against a historical corpus: each
    * incoming document gets its MinHash signature per-row (a stateless
    * codegen expression — no aggregation, so it streams), explodes its
    * LSH band buckets, and semi-joins the static signature table's
    * bucket index. A doc is flagged `is_dup` when any band collides with
    * history AND the signature-estimated Jaccard clears the threshold.
    *
    * Scale shape: the static side is a (band, bucket) → signature index
    * built ONCE (the signature table a batch dedup pipeline already
    * maintains); per microbatch the stream shuffles only its own
    * (band, bucket) rows. Apply inside a [[graft.delivery.Delivery]]
    * batch function so the per-doc reduction runs
    * within each microbatch — no streaming state accumulates across
    * batches; history size only affects the static side.
    * Returns (idCol, is_dup, best_est) with one row per input doc. */
  def nearDupFlags(stream: DataFrame, idCol: String, textCol: String,
                   history: DataFrame, histIdCol: String, histTextCol: String,
                   shingleN: Int = 3, threshold: Double = 0.7,
                   bands: Int = 32, rows: Int = 2): DataFrame = {
    import graft.ops.{Dedup, TextOps}
    val numHashes = bands * rows
    def sigs(df: DataFrame, id: String, text: String): DataFrame =
      df.select(col(id),
        graft.functions.MinHashSig.sigRow(
          TextOps.shingles(col(text), shingleN), numHashes).as("sig"))
    def buckets(df: DataFrame, id: String): DataFrame =
      df.select(col(id), col("sig"),
        posexplode(Dedup.lshBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))
    val hist = buckets(sigs(history, histIdCol, histTextCol), histIdCol)
      .select(col("band"), col("bucket"), col("sig").as("hist_sig"))
    val est = size(filter(
      zip_with(col("sig"), col("hist_sig"), (x, y) => x === y), b => b))
      .cast("double") / numHashes
    buckets(sigs(stream, idCol, textCol), idCol)
      .join(hist, Seq("band", "bucket"), "left_outer")
      .withColumn("__est", when(col("hist_sig").isNull, lit(0.0)).otherwise(est))
      .groupBy(col(idCol))
      .agg(max(col("__est")).as("best_est"))
      .withColumn("is_dup", col("best_est") >= threshold)
  }

  // --- arbitrary stateful processing (SURVEY.md §2a #14 user flow) -----

  case class UserRunningState(userId: Long, nEvents: Long, totalValue: Double)

  /** Per-key running aggregate via mapGroupsWithState — the generalized
    * "user flow with state" that the reference routes through a
    * user-supplied Akka Flow. ProcessingTimeTimeout keeps state bounded
    * in real deployments; test harnesses use NoTimeout. */
  def runningUserState(spark: SparkSession,
                       events: Dataset[(Long, Double)]): Dataset[UserRunningState] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(userId, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserRunningState(userId,
            prev.nEvents + batch.size,
            prev.totalValue + batch.map(_._2).sum)
          state.update(next)
          next
      }
  }

  /** transformWithState (state processor API, the modern successor of
    * mapGroupsWithState): typed ValueState with optional TTL, timers, and
    * multiple state variables per key. Requires the RocksDB state store
    * provider. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Double), UserRunningState] {
    @transient private var totals: ValueState[UserRunningState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserRunningState]("totals",
        Encoders.product[UserRunningState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues): Iterator[UserRunningState] = {
      val prev = if (totals.exists()) totals.get() else UserRunningState(key, 0L, 0.0)
      val batch = rows.toSeq
      val next = UserRunningState(key,
        prev.nEvents + batch.size,
        prev.totalValue + batch.map(_._2).sum)
      totals.update(next)
      Iterator.single(next)
    }
  }

  def runningUserStateTws(spark: SparkSession,
                          events: Dataset[(Long, Double)]): Dataset[UserRunningState] = {
    import spark.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class ThresholdAlert(userId: Long, crossedAt: Long, total: Double)

  /** flatMapGroupsWithState: emit zero-or-more outputs per key per batch —
    * here, an alert each time a user's running total crosses a multiple
    * of `step`. The 0..n output arity is what mapGroupsWithState cannot
    * express (SURVEY.md §2b "Arbitrary stateful op"). */
  def thresholdAlerts(spark: SparkSession, events: Dataset[(Long, Double)],
                      step: Double): Dataset[ThresholdAlert] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[Double]) =>
          var total = state.getOption.getOrElse(0.0)
          val alerts = scala.collection.mutable.ListBuffer[ThresholdAlert]()
          rows.foreach { case (_, v) =>
            val before = total
            total += v
            var k = (before / step).toLong + 1
            while (k <= (total / step).toLong) {
              alerts += ThresholdAlert(userId, k, total)
              k += 1
            }
          }
          state.update(total)
          alerts.iterator
      }
  }

  case class SessionFunnelState(sessionStart: Long, lastE: Long,
                                nEvents: Long, stepTimes: Seq[Long])
  case class SessionFunnelOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long,
                              furthest_step: Int)

  /** STREAMING session funnel — per-user gap sessions tracked as
    * arbitrary state with EVENT-TIME TIMEOUT eviction (the one
    * stateful shape the q124/q128/q130 family does not exercise:
    * timer-driven state closure). A session closes and emits either
    * when a later event of the same user exceeds the gap (data-driven
    * closure — deterministic regardless of watermark) or when the
    * watermark passes `last + gap` (timeout closure); a session the
    * watermark has not yet passed at stream end stays in state and is
    * NEVER emitted — the q193 eviction-not-flush contract for
    * sessions. Within each closed session the ordered min-ts funnel
    * cascade runs exactly like [[graft.ops.Behavior.funnel]], scoped
    * to the session; `furthest_step` = completed prefix length.
    *
    * Input rows are (user, epochMicros, seq, type); each microbatch's
    * group is folded in (ts, seq) order (seq = the per-key delivery
    * sequence, the reference's ordering contract), and cross-batch
    * order holds because the replay waves are time-split. */
  def sessionFunnel(spark: SparkSession, events: DataFrame,
                    tsCol: String, userCol: String, seqCol: String,
                    typeCol: String, steps: Seq[String], gapSeconds: Long,
                    watermark: String): Dataset[SessionFunnelOut] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    def fold(st: SessionFunnelState, e: Long,
             typ: String): SessionFunnelState = {
      val times = st.stepTimes.toArray
      val i = times.indexWhere(_ == Long.MaxValue)
      val upd =
        if (i >= 0 && typ == steps(i) &&
            (i == 0 || e > times(i - 1))) { times(i) = e; times.toSeq }
        else st.stepTimes
      SessionFunnelState(st.sessionStart, e, st.nEvents + 1, upd)
    }
    def out(user: Long, st: SessionFunnelState): SessionFunnelOut =
      SessionFunnelOut(user, st.sessionStart, st.lastE, st.nEvents,
        st.stepTimes.count(_ != Long.MaxValue))
    events
      .withWatermark(tsCol, watermark)
      // the watermarked COLUMN must survive into the grouped child —
      // the analyzer rejects event-time timeout otherwise — so the
      // timestamp rides along beside its micros rendering
      .select(col(userCol), col(tsCol),
        unix_micros(col(tsCol)).as("__e"), col(seqCol), col(typeCol))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, String)],
         state: GroupState[SessionFunnelState]) =>
          val outs = scala.collection.mutable.ListBuffer[SessionFunnelOut]()
          if (state.hasTimedOut) {
            state.getOption.foreach(st => outs += out(user, st))
            state.remove()
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
            var cur = state.getOption
            sorted.foreach { case (_, _, e, _, typ) =>
              cur match {
                case Some(st) if e - st.lastE > gapUs =>
                  outs += out(user, st) // data-driven closure
                  cur = Some(fold(SessionFunnelState(e, e, 0L,
                    Seq.fill(steps.size)(Long.MaxValue)), e, typ))
                case Some(st) => cur = Some(fold(st, e, typ))
                case None => cur = Some(fold(SessionFunnelState(e, e, 0L,
                  Seq.fill(steps.size)(Long.MaxValue)), e, typ))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // eviction timer: the ms ceiling of last + gap (state
              // timestamps are millisecond-granular in this API)
              state.setTimeoutTimestamp((st.lastE + gapUs + 999L) / 1000L)
            }
          }
          outs.iterator
      }
  }
}
