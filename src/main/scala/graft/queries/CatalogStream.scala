package graft.queries

import java.nio.file.Files
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.connector.FileTopicSource
import graft.delivery.Delivery
import graft.model.ConsumerConfig
import graft.ops.{GraphState, Incremental}
import graft.ops.Tables.{table, dsum, dsumSql}
import graft.streaming.StreamOps

/** Streaming operators on the DRIVER'S differential gate (round-8).
  *
  * The watermark/late-data, streaming-dedup, stateful, and
  * stream-stream rows of SURVEY §2b were scalatest-proven but
  * invisible to CORRECTNESS_r{N}: no oracle ever saw them. These
  * entries close that: each runs its composition through the REAL
  * Structured Streaming engine — a file source replaying the events
  * fixture as two deterministic "arrival waves" (microbatches) into a
  * memory sink — and returns a batch-comparable result whose ANSI-SQL
  * equivalent (including the watermark admission/eviction arithmetic,
  * spelled out in epoch seconds) runs in DuckDB. A correctness gate
  * for STREAMING SEMANTICS, not just for the batch operators.
  *
  * Determinism: wave membership is a pure row predicate; wave files get
  * strictly increasing modification times and the source runs with
  * `maxFilesPerTrigger = 1`, so the batch sequence — and therefore
  * every watermark value — replays identically on any engine run.
  * Watermark thresholds are continuous (microsecond event times minus
  * whole-second delays) while window boundaries are whole seconds, so
  * no row ever sits exactly on an admission/eviction boundary and the
  * strict-vs-inclusive edge semantics cannot bite.
  *
  * Scale posture: these are verification-shaped queries (the staging
  * copy is 1× the events fixture, the sinks hold aggregates or
  * fixture-bounded rows), but nothing in them collects the corpus —
  * the same compositions run unchanged on a real stream at any scale;
  * only the two-wave REPLAY harness is gate-specific.
  */
object CatalogStream {
  type Q = (SparkSession, String) => DataFrame

  // staging/checkpoint dirs are per-invocation; without cleanup a
  // 3-pass bench over ten gate queries leaves O(fixture-size) orphans
  // under /tmp every round
  private def rmrf(path: String): Unit =
    graft.ops.LocalFiles.deleteRecursively(path)

  /** Stage DataFrames as single-file parquet "arrival waves" in `dir`
    * with strictly increasing modification times, so a file-source
    * stream with maxFilesPerTrigger=1 replays them as that many
    * deterministic microbatches, in order. */
  private def stageInto(dir: java.nio.file.Path, waves: Seq[DataFrame]): String = {
    def one(df: DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-wave").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      val dest = dir.resolve(name)
      Files.move(part.toPath, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
      rmrf(tmp) // drop the _SUCCESS/.crc leftovers of the staging write
    }
    val t0 = System.currentTimeMillis() - 600000L
    waves.zipWithIndex.foreach { case (w, i) =>
      one(w, f"wave-$i%02d.parquet", t0 + i * 60000L)
    }
    dir.toString
  }

  /** Stage a wave set ONCE per (fixture, spec) per process — the
    * round-8 verdict's harness-amortization ask: the nine gate queries
    * previously each staged their own copy per INVOCATION, so a 3-pass
    * bench wrote 27 fixture-sized wave sets; five queries share the
    * same 80/20 split and q122/q129 the same three-wave late set, so
    * the process needs only four distinct sets, once each. Staging is
    * deterministic (same content, names, mtime order), so reuse is
    * bit-identical to restaging; dirs live under the pid-keyed scratch
    * root ([[graft.ops.LocalFiles.processScratchDir]]) deleted at JVM
    * shutdown, so no run ever deletes a staged wave dir.
    * The per-run engine startup + checkpoint + state-store setup is
    * the irreducible remainder (a checkpoint must never be reused —
    * replay is the point). */
  private val waveDirCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageWavesCached(d: String, specKey: String)
                              (waves: => Seq[DataFrame]): String =
    waveDirCache.computeIfAbsent(s"$d|$specKey", _ => {
      val root = new java.io.File(
        graft.ops.LocalFiles.processScratchDir("stream-waves"),
        specKey + "-" + Integer.toHexString(d.hashCode))
      // a PREVIOUS partially-failed staging (mapping not recorded on
      // exception) would leave files that make the retry's Files.move
      // throw FileAlreadyExists — clean the fixed root before staging
      // so a transient failure never poisons the key for the process
      rmrf(root.toString)
      root.mkdirs()
      stageInto(root.toPath, waves)
    })

  /** (min, max) epoch seconds of a query's event set, once per
    * (fixture, variant) per process — every gate query derives its
    * wave split from it, and the re-aggregation was one full events
    * scan per invocation. */
  private val minMaxCache = new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()
  private def minMaxEpoch(events: DataFrame, d: String, variant: String): (Double, Double) =
    minMaxCache.computeIfAbsent(s"$d|$variant", _ => {
      val e = epochSec(col("ts"))
      val mm = events.agg(min(e), max(e)).head()
      (mm.getDouble(0), mm.getDouble(1))
    })

  /** The staged waves in `dir` as a stream: a file topic admitting one
    * file per trigger, so each wave is one microbatch, in mtime order. */
  private def waves(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    FileTopicSource("waves", dir, "parquet", schema,
      ConsumerConfig(None, maxBatchSize = 1)).load(spark)

  /** Fold the staged waves in `dir` into maintained state: each wave
    * goes to `batch` through the relay's own runner
    * ([[Delivery.atLeastOnce]]), draining everything available now.
    * The checkpoint root is per call and deleted even when `batch`
    * throws (the failure surfaces here, from `awaitTermination`). */
  private[graft] def foldWaves(spark: SparkSession, dir: String, schema: StructType)
                              (batch: DataFrame => Unit): Unit = {
    val root = Files.createTempDirectory("graft-fold-ckpt").toString
    try {
      Delivery.atLeastOnce(waves(spark, dir, schema), "fold", root)(
        (b, _) => batch(b)).awaitTermination()
    } finally rmrf(root)
  }

  /** Run `compose` over the staged wave dir through a real streaming
    * query ([[waves]], AvailableNow) into a uniquely-named memory sink;
    * returns the sink table. */
  private def runWaves(spark: SparkSession, dir: String, schema: StructType,
                       mode: String)(compose: DataFrame => DataFrame): DataFrame = {
    val name = "graft_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val src = waves(spark, dir, schema)
    // Stateful streaming pins one state-store instance per shuffle
    // partition per operator per microbatch — at the gate's fixture
    // volumes the store bookkeeping dominates, so the harness runs with
    // 8 partitions (restored after). This is harness sizing, not
    // operator posture: a production stream sizes partitions to the
    // cluster exactly like the batch side.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    // The cleanup is in a finally: a failed stream (analysis error,
    // runtime death) must not leak the checkpoint or the
    // driver-resident sink view — exactly the orphans this helper
    // exists to prevent (round-8 review).
    try {
      val q = try {
        compose(src).writeStream.format("memory")
          .queryName(name).outputMode(mode)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      q.awaitTermination()
      // Copy the result OUT of the memory sink and release the sink:
      // the sink holds its rows on the driver for as long as its temp
      // view exists, and a bench pass runs every gate query three
      // times — the retained sinks were measurable GC pressure on the
      // whole suite. localCheckpoint blocks are freed by the
      // ContextCleaner once the returned frame goes unreferenced.
      spark.table(name).localCheckpoint(true)
    } finally {
      scala.util.Try(spark.catalog.dropTempView(name))
      rmrf(ckpt)
    }
  }

  /** Start state table `st` (after dropping it and its stagings) from
    * `seed` and fold the waves staged in `dir` into it, one
    * stage-and-swap [[Incremental.transformStateTable]] of
    * `step(current, wave)` per wave; returns the live table. The
    * state-table sibling of [[maintainGraph]]. */
  private[graft] def maintainState(s: SparkSession, st: String, seed: DataFrame,
                                   dir: String, schema: StructType)
                                  (step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    Incremental.dropStateTables(s, st)
    seed.write.saveAsTable(st)
    foldWaves(s, dir, schema)(b =>
      Incremental.transformStateTable(s, st)(step(_, b)))
    s.table(st)
  }

  /** Query `q`'s state table on fixture `d`. */
  private def stateName(q: String, d: String): String =
    s"${q}_state_${Integer.toHexString(d.hashCode)}"

  /** [[maintainState]] of query `q` over three `event_id % 3` waves of
    * (event_id, event_type, value) — a mod split, valid because every
    * caller's merge is order-free: the seed is `stateOf` no events,
    * and each wave merges the current state with `stateOf(wave)`
    * (q160, q200, q218; one shared staging). */
  private[queries] def maintainEventState(s: SparkSession, d: String, q: String)
                                         (stateOf: DataFrame => DataFrame,
                                          merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val events = table(s, d, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = stageWavesCached(d, "events-state")(
      (0 to 2).map(m => events.where(col("event_id") % 3 === m)))
    maintainState(s, stateName(q, d), stateOf(events.where(lit(false))),
      dir, events.schema)((cur, w) => merge(cur, stateOf(w)))
  }

  /** events projected to the streaming payload. The fixture's ts reads
    * as TIMESTAMP_NTZ, which `withWatermark` rejects — convert to
    * TIMESTAMP up front (the UTC-pinned session makes the instant
    * identical to DuckDB's naive-as-UTC reading of the same file). */
  private def ev(s: SparkSession, d: String): DataFrame =
    table(s, d, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))

  /** Epoch seconds of a timestamp column as a double (microsecond
    * fraction intact); DuckDB's `epoch(ts)` on the same file yields
    * the identical double under the UTC-pinned session. */
  private def epochSec(c: org.apache.spark.sql.Column) =
    c.cast("double")

  /** The instant 80% into `events`' time range (`variant` keys the
    * min/max cache). */
  private def split80(events: DataFrame, d: String, variant: String): Double = {
    val (mn, mx) = minMaxEpoch(events, d, variant)
    mn + 0.8 * (mx - mn)
  }

  /** `events` staged as two waves: the first 80% of its time range,
    * then the tail (`variant` names the event slice). */
  private def splitWaves(events: DataFrame, d: String, variant: String): String =
    stageWavesCached(d, s"split8020-$variant") {
      val (e, at) = (epochSec(col("ts")), split80(events, d, variant))
      Seq(events.where(e <= at), events.where(e > at))
    }

  /** q122/q129's three waves: the first 80% of the time range minus
    * the straggler users, the tail minus them, then the stragglers. */
  private def lateWaves(events: DataFrame, d: String): String =
    stageWavesCached(d, "late3") {
      val (e, at) = (epochSec(col("ts")), split80(events, d, "all"))
      val isLate = col("user_id") % LateUsers === 0
      Seq(events.where(!isLate && e <= at), events.where(!isLate && e > at),
        events.where(isLate))
    }

  /** Co-order part pairs `(src, dst)` of the `l_partkey % 3 == 0`
    * lineitem slice whose order key passes `pred`: the crawl waves of
    * the graph gates (q230, q236-q238). */
  private def coOrderPairs(s: SparkSession, d: String)
                          (pred: Column => Column): DataFrame =
    graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
      .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey"))))

  /** The three `l_orderkey % 3` crawl waves of [[coOrderPairs]], staged
    * once per fixture (shared by q230, q236 and q238). */
  private def graphWaves(s: SparkSession, d: String): String =
    stageWavesCached(d, "graph-waves")(
      (0 to 2).map(m => coOrderPairs(s, d)(ok => ok % 3 === m)))

  /** Start `st` as an empty maintained pair of `view` (edges shaped
    * like `empty`) and fold the edge waves staged in `dir` into it, one
    * [[GraphState.advance]] per wave; returns the maintained view. */
  private def maintainGraph(s: SparkSession, st: String, view: GraphState.View,
                            dir: String, empty: DataFrame): DataFrame = {
    GraphState.init(s, st, view, empty, "src", "dst")
    foldWaves(s, dir, empty.schema)(b =>
      GraphState.advance(s, st, view, b, "src", "dst"))
    GraphState.table(s, st, view)
  }

  private val LateUsers = 10 // user_id % 10 == 0 rows arrive in the last wave

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // WATERMARK / LATE DATA through the real engine: 1-hour tumbling
    // counts with a 1-hour watermark, events arriving as THREE waves —
    // wave A is the first 80% of the time range minus the straggler
    // users, wave B the tail, wave C the stragglers (old timestamps
    // arriving two batches after the watermark advanced past them).
    // Three waves because Spark's stateful operators use TWO
    // watermarks (verified empirically on this engine, SCALING.md):
    // batch k filters LATE INPUT with the watermark of batch
    // k−1 (so wave B, at batch 1, is filtered with batch 0's initial
    // zero watermark — nothing drops) and EVICTS/EMITS state with the
    // watermark of batch k — so wave C, at batch 2, is filtered with
    // batch 1's watermark max(ts in A) − 1h, and that is where late
    // drop actually bites. Append mode: the result is exactly the
    // finalized windows. The oracle replays this arithmetic verbatim:
    // a wave-C row is admitted iff its window end clears
    // max(ts in A) − 1h; a window is emitted iff its end is at or
    // below the final watermark max(all ts) − 1h.
    ("q122_stream_tumbling_late", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      runWaves(s, lateWaves(events, d), events.schema, "append") { df =>
        df.withWatermark("ts", "3600 seconds")
          .groupBy(window(col("ts"), "3600 seconds").as("w"))
          .agg(count(lit(1)).as("n_events"),
            dsum(col("value")).as("sum_value"))
      }
        .select(epochSec(col("w.start")).cast("long").as("win_start"),
          col("n_events"), col("sum_value"))
        .orderBy("win_start")
    }, Some(
      s"""WITH e0 AS (
         |  SELECT event_id, epoch(ts) AS e, user_id, value FROM events
         |), p AS (
         |  SELECT min(e) AS mn, max(e) AS mx FROM e0
         |), t AS (
         |  SELECT mn + 0.8 * (mx - mn) AS split, mx FROM p
         |), wa AS (
         |  SELECT e0.* FROM e0 CROSS JOIN t
         |  WHERE NOT (user_id % $LateUsers = 0) AND e <= t.split
         |), wb AS (
         |  SELECT e0.* FROM e0 CROSS JOIN t
         |  WHERE NOT (user_id % $LateUsers = 0) AND e > t.split
         |), wc AS (
         |  SELECT e0.* FROM e0 WHERE user_id % $LateUsers = 0
         |), wm AS (
         |  SELECT max(e) - 3600.0 AS wma FROM wa
         |), adm AS (
         |  SELECT * FROM wa
         |  UNION ALL
         |  SELECT * FROM wb
         |  UNION ALL
         |  SELECT wc.* FROM wc CROSS JOIN wm
         |  WHERE floor(wc.e / 3600) * 3600 + 3600 > wm.wma
         |)
         |SELECT CAST(floor(e / 3600) * 3600 AS BIGINT) AS win_start,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${dsumSql("value")} AS sum_value
         |FROM adm CROSS JOIN t
         |GROUP BY 1, t.mx
         |HAVING win_start + 3600 <= t.mx - 3600.0
         |ORDER BY win_start""".stripMargin)),

    // STREAMING DEDUP (effective-once): wave B REPLAYS every straggler
    // user's rows — byte-identical (event_id, ts) duplicates, the
    // at-least-once redelivery the reference's consumers see — and
    // StreamOps.dedupped must admit each exactly once across
    // microbatches (the watermark is wider than the fixture's span, so
    // no dedup state is evicted and effective-once is exact). The
    // output is every event exactly once.
    ("q123_stream_dedup_replay", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      val dir = stageWavesCached(d, "replay")(Seq(events,
        events.where(col("user_id") % LateUsers === 0)))
      runWaves(s, dir, events.schema, "append") { df =>
        StreamOps.dedupped(df, "ts", "event_id", "90 days")
      }
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin)),

    // ARBITRARY STATEFUL OP (mapGroupsWithState): the per-user running
    // aggregate carried across microbatches; the final state per user
    // must equal the batch groupBy. Update mode emits one row per
    // (user, batch) — the final state is the row with the largest
    // running count (strictly increasing whenever the user appears).
    // Values go through floor(value·100) cents so the running Double
    // sum is integer-exact and iteration-order-free.
    ("q124_stream_state_running", (s: SparkSession, d: String) => {
      import s.implicits._
      val events = ev(s, d)
      runWaves(s, splitWaves(events, d, "all"), events.schema, "update") { df =>
        StreamOps.runningUserState(s,
          df.select(col("user_id"),
            floor(col("value") * 100).cast("double").as("cents"))
            .as[(Long, Double)]).toDF()
      }
        .groupBy(col("userId").as("user_id"))
        .agg(max(col("nEvents")).as("n_events"),
          max(struct(col("nEvents"), col("totalValue"))).getField("totalValue")
            .cast("long").as("total_cents"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // STREAM-STATIC ENRICH: each microbatch broadcast-joins the static
    // customer dimension; row-level output proves the join (unique dim
    // key, so the left join is deterministic per event).
    ("q125_stream_static_enrich", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      val dim = table(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      runWaves(s, splitWaves(events, d, "all"), events.schema, "append") { df =>
        StreamOps.enrich(df, dim, "user_id", "c_custkey")
      }
        .select(col("event_id"), col("user_id"), col("c_nationkey"),
          col("c_mktsegment"))
        .orderBy("event_id")
    }, Some(
      """SELECT e.event_id, e.user_id, c.c_nationkey, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin)),

    // STREAM-STREAM INTERVAL JOIN: even-id events against odd-id
    // events of the same user within ±10 minutes, across microbatch
    // boundaries (state buffers wave-A rows until their wave-B
    // partners arrive; the watermark is wider than the fixture's span,
    // so nothing is evicted and the result is the complete interval
    // join — the batch theta join the oracle states directly).
    ("q126_stream_stream_join", (s: SparkSession, d: String) => {
      // user_id % 3 == 0 bounds both sides' buffered state (the 90-day
      // watermark deliberately retains everything so the result is the
      // complete interval join) — the semantics are identical on the
      // subset, and the gate query stops costing a third of the bench
      // family's wall-clock at sf0.1
      val events = ev(s, d).where(col("user_id") % 3 === 0)
      // the split is 80% into the SUBSET's time range
      runWaves(s, splitWaves(events, d, "u3"), events.schema, "append") { df =>
        val a = df.where(col("event_id") % 2 === 0)
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val b = df.where(col("event_id") % 2 === 1)
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        StreamOps.streamStreamJoin(a, b, "a_user", "b_user", "a_ts", "b_ts",
          "90 days", "10 minutes", "10 minutes")
          .select(col("a_id"), col("b_id"))
      }
        .orderBy("a_id", "b_id")
    }, Some(
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.user_id % 3 = 0 AND b.user_id % 3 = 0
        | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
        | AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE
        |               AND a.ts + INTERVAL 10 MINUTE
        |ORDER BY a_id, b_id""".stripMargin)),

    // SESSION WINDOWS through the real engine: per-user 30-minute-gap
    // sessions with a 1h watermark, two time-split waves (no
    // stragglers — late drop is q122's concern; here the point is
    // session MERGING across microbatch boundaries: a user's session
    // straddling the split must grow from wave-A and wave-B events and
    // emit once). No boundary session can have been evicted before
    // wave B arrives: eviction at the end of batch 1 uses
    // max(ts in A) − 1h, and a session a wave-B row (ts > split ≈
    // max A) could extend necessarily ends after that. Append mode
    // emits exactly the sessions whose end (last ts + gap) is at or
    // below the final watermark max(ts) − 1h — the oracle states batch
    // gaps-and-islands sessionization plus that filter.
    ("q127_stream_session_merge", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      runWaves(s, splitWaves(events, d, "all"), events.schema, "append") { df =>
        df.withWatermark("ts", "3600 seconds")
          .groupBy(session_window(col("ts"), "1800 seconds").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .select(col("user_id"), epochSec(col("w.start")).as("s_start"),
          epochSec(col("w.end")).as("s_end"), col("n_events"))
        .orderBy("user_id", "s_start")
    }, Some(
      """WITH e0 AS (
        |  SELECT user_id, epoch(ts) AS e FROM events
        |), o AS (
        |  SELECT user_id, e,
        |         lag(e) OVER (PARTITION BY user_id ORDER BY e) AS pe
        |  FROM e0
        |), m AS (
        |  SELECT user_id, e,
        |         CASE WHEN pe IS NULL OR e - pe > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM o
        |), g AS (
        |  SELECT user_id, e,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY e
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |), sess AS (
        |  SELECT user_id, min(e) AS s_start, max(e) + 1800.0 AS s_end,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY user_id, sid
        |), p AS (
        |  SELECT max(e) AS mx FROM e0
        |)
        |SELECT user_id, s_start, s_end, n_events
        |FROM sess CROSS JOIN p
        |WHERE s_end <= mx - 3600.0
        |ORDER BY user_id, s_start""".stripMargin)),

    // transformWithState (the state-processor API, mapGroupsWithState's
    // modern successor) on the gate, over the RocksDB state store — the
    // q124 equivalence through the OTHER state backend and API. Runs in
    // a child session so the RocksDB provider conf cannot leak into the
    // rest of the catalog.
    ("q128_stream_state_tws", (s0: SparkSession, d: String) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import s.implicits._
      val events = ev(s, d)
      runWaves(s, splitWaves(events, d, "all"), events.schema, "update") { df =>
        StreamOps.runningUserStateTws(s,
          df.select(col("user_id"),
            floor(col("value") * 100).cast("double").as("cents"))
            .as[(Long, Double)]).toDF()
      }
        .groupBy(col("userId").as("user_id"))
        .agg(max(col("nEvents")).as("n_events"),
          max(struct(col("nEvents"), col("totalValue"))).getField("totalValue")
            .cast("long").as("total_cents"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // STREAMING DEDUP'S STATE BOUND: q123 proves effective-once with a
    // watermark wide enough that nothing is evicted; THIS query proves
    // the other half — the watermark actually bounds the state, and the
    // price is that genuinely late NEW data is dropped. Same two
    // watermarks as q122: the stragglers (wave C, batch 2) are filtered
    // with batch 1's watermark max(ts in A) − 1h, so a straggler older
    // than that never reaches the dedup state at all (this is also why
    // an evicted key can never be re-EMITTED: the late filter at batch
    // k equals every eviction watermark applied before it). The output
    // is every on-time event exactly once, minus the late stragglers —
    // which the oracle states as a plain WHERE clause.
    ("q129_stream_dedup_eviction", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      runWaves(s, lateWaves(events, d), events.schema, "append") { df =>
        StreamOps.dedupped(df, "ts", "event_id", "3600 seconds")
      }
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }, Some(
      s"""WITH e0 AS (
         |  SELECT event_id, user_id, event_type, epoch(ts) AS e FROM events
         |), p AS (
         |  SELECT min(e) AS mn, max(e) AS mx FROM e0
         |), t AS (
         |  SELECT mn + 0.8 * (mx - mn) AS split FROM p
         |), wm AS (
         |  SELECT max(e) - 3600.0 AS wma
         |  FROM e0 CROSS JOIN t
         |  WHERE NOT (user_id % $LateUsers = 0) AND e <= t.split
         |)
         |SELECT event_id, user_id, event_type
         |FROM e0 CROSS JOIN wm
         |WHERE NOT (user_id % $LateUsers = 0) OR e >= wm.wma
         |ORDER BY event_id""".stripMargin)),

    // flatMapGroupsWithState (0..n outputs per key per batch — the
    // arity mapGroupsWithState cannot express): an alert each time a
    // user's running total crosses a 1000.00 multiple, state carried
    // across microbatches. Event values are non-negative, so the
    // running total is monotone and the SET of multiples crossed is
    // order-independent (the alert's in-flight total is not — it is
    // projected away). The oracle is per-user generate_series up to
    // floor(total/step).
    ("q130_stream_alerts", (s: SparkSession, d: String) => {
      import s.implicits._
      val events = ev(s, d)
      runWaves(s, splitWaves(events, d, "all"), events.schema, "append") { df =>
        StreamOps.thresholdAlerts(s,
          df.select(col("user_id"),
            floor(col("value") * 100).cast("double").as("cents"))
            .as[(Long, Double)], step = 100000.0).toDF()
      }
        .select(col("userId").as("user_id"), col("crossedAt").as("crossed_at"))
        .orderBy("user_id", "crossed_at")
    }, Some(
      """WITH c AS (
        |  SELECT user_id,
        |         sum(CAST(floor(value * 100) AS BIGINT)) AS tot
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id,
        |       CAST(unnest(generate_series(1, CAST(tot // 100000 AS BIGINT)))
        |         AS BIGINT) AS crossed_at
        |FROM c WHERE tot >= 100000
        |ORDER BY user_id, crossed_at""".stripMargin)),

    // THE COMPOSED INGEST PIPELINE through the real engine — the gate
    // family's capstone: q122-q130 each prove ONE streaming semantic;
    // this runs the crawl-ingest composition a deployment actually
    // ships as a single streaming job: normalize (the compiled
    // NfcNormalize node, inside a microbatch) → rule quality gate
    // (token count + type-token ratio, both engine-portable) →
    // replay dedup (crawler re-fetch: wave B re-delivers the %6==0
    // docs byte-identically; dropDuplicates state collapses them to
    // effective-once). Plain dropDuplicates keeps UNBOUNDED state —
    // honest here because doc ids recur forever in a crawl; the
    // state-BOUNDED complement and its tradeoff are q129's subject.
    // Oracle: the batch pipeline over the distinct delivered set.
    ("q147_stream_ingest_pipeline", (s: SparkSession, d: String) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val dir = stageWavesCached(d, "docs-ingest")(Seq(
        docs.where(col("doc_id") % 3 < 2),
        docs.where(col("doc_id") % 3 === 2)
          .unionAll(docs.where(col("doc_id") % 6 === 0))))
      runWaves(s, dir, docs.schema, "append") { df =>
        val tn = graft.ops.TextOps.normalizeText(col("text"))
        val withNorm = df.withColumn("text_norm", tn)
          .withColumn("ts", split(trim(col("text_norm")), "\\s+"))
          .withColumn("n_tokens", size(col("ts")).cast("long"))
          .withColumn("ttr",
            size(array_distinct(col("ts"))).cast("double") /
              size(col("ts")).cast("double"))
        withNorm
          .where(col("n_tokens") >= 8 && col("ttr") > 0.55)
          .dropDuplicates("doc_id")
          .select(col("doc_id"), col("n_tokens"),
            md5(col("text_norm")).as("digest"))
      }.orderBy("doc_id")
    }, Some {
      val tn = graft.ops.TextOps.normalizeTextSql("text")
      s"""WITH delivered AS (
         |  SELECT DISTINCT doc_id, text FROM (
         |    SELECT doc_id, text FROM documents WHERE CAST(doc_id % 3 AS INT) < 2
         |    UNION ALL
         |    SELECT doc_id, text FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
         |    UNION ALL
         |    SELECT doc_id, text FROM documents WHERE CAST(doc_id % 6 AS INT) = 0
         |  )
         |), n AS (
         |  SELECT doc_id, $tn AS tn FROM delivered
         |), t AS (
         |  SELECT doc_id, tn, string_split_regex(trim(tn), '\\s+') AS ts FROM n
         |)
         |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens, md5(tn) AS digest
         |FROM t
         |WHERE len(ts) >= 8
         |  AND CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) > 0.55
         |ORDER BY doc_id""".stripMargin
    }),

    // Streaming maintenance of the q152 state table: three arrival
    // waves fold into the persisted monoid state through [[foldWaves]]
    // (each microbatch = one aggState + one stage-and-swap advance —
    // the report-maintenance loop a deployment runs against a live
    // topic), and the final report must equal the from-scratch batch
    // aggregate. Monoid merging makes wave BOUNDARIES immaterial —
    // exactly the property that lets the same state table absorb
    // batch backfills and streaming deltas interchangeably.
    ("q160_stream_state_advance", (s: SparkSession, d: String) => {
      val keys = Seq("event_type")
      Incremental.finish(maintainEventState(s, d, "q160")(
          Incremental.aggState(_, keys, "value", scale = 6),
          (cur, w) => Incremental.mergeStates(Seq(cur, w), keys)), keys)
        .orderBy("event_type")
    }, Some(
      s"""SELECT event_type,
         |       CAST(count(value) AS BIGINT) AS n,
         |       ${dsumSql("value", 6)} AS total,
         |       ${dsumSql("value", 6)} / count(value) AS avg,
         |       min(value) AS mn, max(value) AS mx
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming CDC maintenance: the q175 MERGE run as a live loop —
    // three arrival waves of an I/U/D change feed fold into a
    // persisted latest-state table through [[foldWaves]], each
    // microbatch one applyChangelog + stage-and-swap. Unlike q160's
    // monoid state, CDC folding is order-SENSITIVE: state_k =
    // apply(state_{k-1}, wave_k) equals the one-shot batch apply IFF
    // no later wave carries a smaller sequence number for a key than
    // an earlier one — exactly the per-key in-order delivery contract
    // the reference's per-shard sequencing guarantees
    // (KinesisSubscriberActor.scala:176-207). The waves are therefore
    // staged by SEQ RANGE (a mod-split would violate the contract and
    // genuinely diverge — deletes would un-delete). Oracle: the
    // from-scratch batch MERGE over the whole feed.
    ("q177_stream_cdc_apply", (s: SparkSession, d: String) => {
      import graft.ops.Warehouse
      val base = table(s, d, "customer").select(
        col("c_custkey").as("k"), col("c_name").as("name"),
        floor(col("c_acctbal") * 100).as("cents"))
      val changes = table(s, d, "orders").select(
        col("o_custkey").as("k"), col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "P", "D")
          .when(col("o_orderstatus") === "O", "I")
          .otherwise("U").as("op"),
        concat(lit("cust-"), col("o_custkey")).as("name"),
        floor(col("o_totalprice") * 100).as("cents"))
      // one-row staging probe (fixture prep, not operator cost): the
      // seq-range thirds that model in-order delivery
      val mx = changes.agg(max(col("seq"))).head().getLong(0)
      val dir = stageWavesCached(d, "orders-cdc")(Seq(
        changes.where(col("seq") * 3 <= mx),
        changes.where(col("seq") * 3 > mx && col("seq") * 3 <= 2 * mx),
        changes.where(col("seq") * 3 > 2 * mx)))
      maintainState(s, stateName("q177", d), base, dir, changes.schema)(
          Warehouse.applyChangelog(_, _, "k", "seq", "op", Seq("name", "cents")))
        .orderBy("k")
    }, Some(graft.ops.Warehouse.applyChangelogSql(
      "SELECT c_custkey AS k, c_name AS name, " +
        "CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer",
      """SELECT o_custkey AS k, o_orderkey AS seq,
        |       CASE WHEN o_orderstatus = 'P' THEN 'D'
        |            WHEN o_orderstatus = 'O' THEN 'I'
        |            ELSE 'U' END AS op,
        |       'cust-' || o_custkey AS name,
        |       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders""".stripMargin,
      Seq("name", "cents")) + "\nORDER BY k"))
  ,

    // Streaming SCD2 maintenance: q179's incremental history advance
    // run as a live loop — three arrival waves fold into a persisted
    // DIMENSION table, each microbatch one scd2Apply + stage-and-swap.
    // The waves are split at HOUR-ALIGNED time cuts: per-key in-order
    // arrival (the reference's contract, as in q177) AND no tick
    // spans a wave boundary (scd2Apply's tick contract). Starts from
    // the EMPTY dimension; the final table must equal the
    // from-scratch q168 build over the whole feed.
    ("q188_stream_scd2_maintain", (s: SparkSession, d: String) => {
      import graft.ops.Warehouse
      val ch = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"),
        col("event_type").as("state"))
      val cut1 = lit("2024-01-11 00:00:00").cast("timestamp")
      val cut2 = lit("2024-01-21 00:00:00").cast("timestamp")
      val dir = stageWavesCached(d, "events-scd2")(Seq(
        ch.where(col("ts") < cut1),
        ch.where(col("ts") >= cut1 && col("ts") < cut2),
        ch.where(col("ts") >= cut2)))
      val seed = Warehouse.scd2Build(ch.where(lit(false)), "user_id",
        date_trunc("hour", col("ts")), "event_id", Seq("state"))
      maintainState(s, stateName("q188", d), seed, dir, ch.schema) { (cur, b) =>
        Warehouse.scd2Apply(cur,
          b.select(col("user_id"), date_trunc("hour", col("ts")).as("__cts"),
            col("event_id"), col("state")),
          "user_id", col("__cts"), "event_id", Seq("state"))
      }.orderBy("user_id", "version")
    }, Some("WITH " + graft.ops.Warehouse.scd2BuildSql(
      "SELECT user_id AS k, date_trunc('hour', ts) AS ts, " +
        "event_id AS seq, event_type AS state FROM events",
      Seq("state")) +
      """
        |SELECT k AS user_id, state, valid_from, valid_to, is_current,
        |       version
        |FROM scd2
        |ORDER BY user_id, version""".stripMargin)),

    // STREAM-STREAM LEFT OUTER interval join — the semantics users hit
    // with late-arriving enrichment: q126's inner interval join PLUS
    // null emission for an unmatched left row once the watermark
    // EVICTS it (its ts+after horizon falls below the state
    // watermark); an unmatched row whose horizon is still open at
    // stream end is withheld, never flushed. Engineered unmatched
    // rows: user_id % 9 == 0 rows are EXCLUDED from the right side, so
    // those left rows provably cannot match and split into
    // emitted-null (old, horizon below the final watermark) vs
    // withheld (recent) — the split the oracle replays: with a 1 h
    // watermark and ±10 min bounds, null rows are exactly the
    // unmatched lefts with a_ts + 600 < min(max a_ts, max b_ts) −
    // 3600 (the engine's multi-watermark policy takes the MIN across
    // both sides). Thresholds stay µs-continuous vs whole-second
    // deltas, so boundary strictness cannot bite. StreamGateSpec
    // proves both classes are nonempty on the fixture.
    ("q193_stream_stream_outer", (s: SparkSession, d: String) => {
      val events = ev(s, d).where(col("user_id") % 3 === 0)
      runWaves(s, splitWaves(events, d, "u3"), events.schema, "append") { df =>
        val a = df.where(col("event_id") % 2 === 0)
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val b = df.where((col("event_id") % 2 === 1) &&
            (col("user_id") % 9 =!= 0))
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        StreamOps.streamStreamJoin(a, b, "a_user", "b_user",
          "a_ts", "b_ts", "3600 seconds", "600 seconds", "600 seconds",
          joinType = "left_outer")
          .select(col("a_id"), col("b_id"))
      }
        .orderBy("a_id", "b_id")
    }, Some(
      """WITH e0 AS (
        |  SELECT event_id, epoch_us(ts) AS e, user_id FROM events
        |  WHERE user_id % 3 = 0
        |), a AS (
        |  SELECT event_id AS a_id, user_id AS a_user, e AS a_e
        |  FROM e0 WHERE event_id % 2 = 0
        |), b AS (
        |  SELECT event_id AS b_id, user_id AS b_user, e AS b_e
        |  FROM e0 WHERE event_id % 2 = 1 AND user_id % 9 <> 0
        |), wm AS (
        |  -- the engine's watermark is MILLISECOND-floored (max event
        |  -- time in ms minus the delay in ms); the eviction compare
        |  -- replays that granularity in integer microseconds. (The
        |  -- engine's interval analysis may add a further ±1 ms state-
        |  -- watermark adjustment; no fixture row sits within 1 ms of
        |  -- the boundary at any scale, so the gate pins the formula
        |  -- to this precision.)
        |  SELECT (LEAST((SELECT max(a_e) FROM a),
        |                (SELECT max(b_e) FROM b)) // 1000 - 3600000)
        |           * 1000 AS w_us
        |), m AS (
        |  SELECT a.a_id, b.b_id FROM a JOIN b ON b.b_user = a.a_user
        |   AND b.b_e BETWEEN a.a_e - 600000000 AND a.a_e + 600000000
        |), nullrows AS (
        |  SELECT a.a_id, CAST(NULL AS BIGINT) AS b_id
        |  FROM a CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.a_id)
        |    AND a.a_e + 600000000 < wm.w_us
        |)
        |SELECT a_id, b_id FROM m
        |UNION ALL SELECT a_id, b_id FROM nullrows
        |ORDER BY a_id, b_id""".stripMargin)),

    // STREAM-STREAM FULL OUTER interval join — q193's eviction
    // semantics on BOTH sides: unmatched A rows null-pad on the right
    // when a_ts + 600 s falls below the min-across-sides watermark,
    // unmatched B rows null-pad on the left when b_ts + 600 s does
    // (symmetric ±10 min bounds make the horizons symmetric); both
    // sides withhold rows whose horizon is still open at stream end.
    // Engineered unmatched classes on BOTH sides: user_id % 9 == 0
    // users are excluded from B (their A rows can never match) and
    // user_id % 9 == 1 users from A (their B rows can never match);
    // all five classes (matched, evicted-null × 2, withheld × 2) are
    // nonempty at every fixture scale (checked: 4/142/4/106/1 at
    // sf0.001). ORDER BY coalesces null ids to -1 — Spark sorts nulls
    // first where DuckDB sorts them last, and the driver compares rows
    // in order.
    ("q211_stream_stream_full_outer", (s: SparkSession, d: String) => {
      val events = ev(s, d).where(col("user_id") % 3 === 0)
      runWaves(s, splitWaves(events, d, "u3"), events.schema, "append") { df =>
        val a = df.where((col("event_id") % 2 === 0) &&
            (col("user_id") % 9 =!= 1))
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val b = df.where((col("event_id") % 2 === 1) &&
            (col("user_id") % 9 =!= 0))
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        StreamOps.streamStreamJoin(a, b, "a_user", "b_user",
          "a_ts", "b_ts", "3600 seconds", "600 seconds", "600 seconds",
          joinType = "full_outer")
          .select(col("a_id"), col("b_id"))
      }
        .orderBy(coalesce(col("a_id"), lit(-1L)),
          coalesce(col("b_id"), lit(-1L)))
    }, Some(
      """WITH e0 AS (
        |  SELECT event_id, epoch_us(ts) AS e, user_id FROM events
        |  WHERE user_id % 3 = 0
        |), a AS (
        |  SELECT event_id AS a_id, user_id AS a_user, e AS a_e
        |  FROM e0 WHERE event_id % 2 = 0 AND user_id % 9 <> 1
        |), b AS (
        |  SELECT event_id AS b_id, user_id AS b_user, e AS b_e
        |  FROM e0 WHERE event_id % 2 = 1 AND user_id % 9 <> 0
        |), wm AS (
        |  -- q193's ms-floored min-across-sides watermark model
        |  SELECT (LEAST((SELECT max(a_e) FROM a),
        |                (SELECT max(b_e) FROM b)) // 1000 - 3600000)
        |           * 1000 AS w_us
        |), m AS (
        |  SELECT a.a_id, b.b_id FROM a JOIN b ON b.b_user = a.a_user
        |   AND b.b_e BETWEEN a.a_e - 600000000 AND a.a_e + 600000000
        |), anull AS (
        |  SELECT a.a_id, CAST(NULL AS BIGINT) AS b_id
        |  FROM a CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.a_id)
        |    AND a.a_e + 600000000 < wm.w_us
        |), bnull AS (
        |  SELECT CAST(NULL AS BIGINT) AS a_id, b.b_id
        |  FROM b CROSS JOIN wm
        |  WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.b_id = b.b_id)
        |    AND b.b_e + 600000000 < wm.w_us
        |)
        |SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id FROM m
        |  UNION ALL SELECT a_id, b_id FROM anull
        |  UNION ALL SELECT a_id, b_id FROM bnull)
        |ORDER BY coalesce(a_id, -1), coalesce(b_id, -1)""".stripMargin)),

    // BOUNDED-STATE retry dedup — dropDuplicatesWithinWatermark, the
    // Spark-4 primitive q123/q129's exact-key dedup family cannot
    // express: dedup on the BUSINESS key (event_id) alone, so a retry
    // RE-STAMPED with a new event time (the producer-retry shape —
    // plain dropDuplicates on (key, ts) would pass it through) still
    // collapses, while the watermark bounds each key's state lifetime.
    // Engine semantics, pinned by decompile + probe on THIS engine:
    // state expiry = first copy's event time + delay (duplicates do
    // not extend it), batch k's LATE filter uses batch k−1's watermark
    // and its state EVICTION batch k's (the q122 two-watermark model),
    // and — the subtle consequence — a replay carrying its ORIGINAL
    // timestamp can NEVER re-emit (by the time its state is evicted,
    // the row itself is below the late watermark), so the visible
    // bounded-state trade needs a LATE-stamped retry. Three waves:
    // wave2 retries wave1's %5 ids at +15 min (dropped as dups DESPITE
    // the new timestamp), wave3 retries %7 at +15 min (dup-dropped or
    // late-dropped — never re-emitted) and %11 at +15 days (past the
    // horizon: re-emitted exactly when the original's state was
    // evicted — the at-least-once-beyond-the-delay contract). All
    // classes nonempty at every scale (sf0.001: 23/11+2/5/6). Output:
    // per event_id, how many times it reached the sink.
    ("q212_stream_dedup_bounded", (s: SparkSession, d: String) => {
      val events = ev(s, d).where(col("user_id") % 4 === 2)
      val e = epochSec(col("ts"))
      val (mn, mx) = minMaxEpoch(events, d, "u4m2")
      val s1 = mn + (mx - mn) / 3
      val s2 = mn + 2 * (mx - mn) / 3
      def retry(m: Int, jitterSecs: Long) =
        events.where(e <= s1 && col("event_id") % m === 0)
          .withColumn("ts",
            col("ts") + expr(s"INTERVAL $jitterSecs SECONDS"))
      val dir = stageWavesCached(d, "dedupww-u4m2")(Seq(
        events.where(e <= s1),
        events.where(e > s1 && e <= s2).unionAll(retry(5, 900L)),
        events.where(e > s2).unionAll(retry(7, 900L))
          .unionAll(retry(11, 1296000L))))
      runWaves(s, dir, events.schema, "append") { df =>
        StreamOps.deduppedWithinWatermark(df, "ts", Seq("event_id"),
          "216000 seconds")
          .select("event_id")
      }
        .groupBy("event_id").agg(count(lit(1)).as("n_emitted"))
        .orderBy("event_id")
    }, Some(
      """WITH e0 AS (
        |  SELECT event_id, epoch_us(ts) AS t FROM events
        |  WHERE user_id % 4 = 2
        |), mm AS (SELECT min(t) AS mn, max(t) AS mx FROM e0),
        |s AS (SELECT mn + (mx - mn)/3 AS s1 FROM mm),
        |-- batch 2's eviction watermark = ms-floored max event time of
        |-- wave 1 minus the 60 h delay (the engine applied it at the
        |-- end of batch 1, so batch 2's lookups see those evictions)
        |wme1 AS (SELECT ((SELECT max(t) FROM e0, s WHERE t <= s1)
        |                   // 1000 - 216000000) * 1000 AS w)
        |SELECT event_id,
        |  CAST(1
        |    + CASE WHEN event_id % 11 = 0 AND t <= (SELECT s1 FROM s)
        |                AND t + 216000000000 < (SELECT w FROM wme1)
        |           THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_emitted
        |FROM e0
        |ORDER BY event_id""".stripMargin)),

    // STREAMING SESSION FUNNEL — per-user gap sessions as ARBITRARY
    // state with EVENT-TIME TIMEOUT eviction (the timer-driven closure
    // shape the q124/q128/q130 stateful family never exercises), each
    // closed session reporting its within-session ordered-funnel
    // progress. A session emits on data-driven closure (a later event
    // past the gap — any session that is not the user's last) or when
    // the watermark passes last+gap (timer closure, millisecond
    // granularity — the API's state-timestamp unit, which the oracle
    // replays in the SAME ms arithmetic the engine uses:
    // wm_ms = max_us div 1000 − delay_ms, fire on timeout_ms < wm_ms);
    // a last session the watermark has not passed stays in state,
    // NEVER emitted — the q193 eviction-not-flush contract for
    // sessions.
    ("q202_stream_session_funnel", (s: SparkSession, d: String) => {
      val events = ev(s, d)
      runWaves(s, splitWaves(events, d, "all"), events.schema, "append") { df =>
        StreamOps.sessionFunnel(s, df, "ts", "user_id", "event_id",
          "event_type", Seq("signup", "view", "click", "purchase"),
          gapSeconds = 1800, watermark = "3600 seconds").toDF()
      }
        .orderBy("user_id", "session_start_us")
    }, Some(
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) AS e, event_id AS seq,
        |         event_type AS typ
        |  FROM events
        |), f AS (
        |  SELECT u, e, seq, typ,
        |         CAST(e - lag(e) OVER (PARTITION BY u ORDER BY e, seq)
        |              > 1800000000
        |           OR lag(e) OVER (PARTITION BY u ORDER BY e, seq) IS NULL
        |           AS BIGINT) AS nw
        |  FROM ev
        |), g AS (
        |  SELECT u, e, seq, typ,
        |         CAST(sum(nw) OVER (PARTITION BY u ORDER BY e, seq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS sid
        |  FROM f
        |), sess AS (
        |  SELECT u, sid, min(e) AS s_start, max(e) AS s_end,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM g GROUP BY 1, 2
        |), s0 AS (
        |  SELECT u, sid, min(e) AS t0 FROM g
        |  WHERE typ = 'signup' GROUP BY 1, 2
        |), s1 AS (
        |  SELECT g.u, g.sid, min(e) AS t1
        |  FROM g JOIN s0 USING (u, sid)
        |  WHERE typ = 'view' AND e > t0 GROUP BY 1, 2
        |), s2 AS (
        |  SELECT g.u, g.sid, min(e) AS t2
        |  FROM g JOIN s1 USING (u, sid)
        |  WHERE typ = 'click' AND e > t1 GROUP BY 1, 2
        |), s3 AS (
        |  SELECT g.u, g.sid, min(e) AS t3
        |  FROM g JOIN s2 USING (u, sid)
        |  WHERE typ = 'purchase' AND e > t2 GROUP BY 1, 2
        |), wm AS (SELECT (max(e) // 1000) - 3600000 AS wm_ms FROM ev),
        |lastS AS (SELECT u, max(sid) AS lsid FROM g GROUP BY 1),
        |emit AS (
        |  SELECT sess.* FROM sess
        |  JOIN lastS USING (u) CROSS JOIN wm
        |  WHERE sess.sid < lastS.lsid
        |     OR (sess.s_end + 1800000000 + 999) // 1000 < wm.wm_ms
        |)
        |SELECT emit.u AS user_id, s_start AS session_start_us,
        |       s_end AS session_end_us, n AS n_events,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 4
        |                 WHEN t2 IS NOT NULL THEN 3
        |                 WHEN t1 IS NOT NULL THEN 2
        |                 WHEN t0 IS NOT NULL THEN 1
        |                 ELSE 0 END AS INT) AS furthest_step
        |FROM emit
        |LEFT JOIN s0 USING (u, sid)
        |LEFT JOIN s1 USING (u, sid)
        |LEFT JOIN s2 USING (u, sid)
        |LEFT JOIN s3 USING (u, sid)
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // Streaming TRIANGLE maintenance (round-14, the round-13 verdict's
    // top ask run live): the co-order graph's (edges, stats) pair
    // lives as MAINTAINED state tables (GraphState — the q177/q188
    // stage-and-swap posture applied to the graph family) and three
    // crawl waves of edge deltas fold in through [[foldWaves]], each
    // microbatch one |D|-bounded GraphState.advance consuming the
    // stored CANONICAL edge set (never re-canonicalizing history —
    // Graph.advanceTriangleCore). Waves re-deliver edges already
    // present (co-order pairs recur across orders); the advance dedups
    // against state, so wave boundaries are immaterial. Oracle: the
    // from-scratch triangle count over the whole union — maintained ≡
    // full, to the hash.
    ("q230_stream_triangle_maintain", (s: SparkSession, d: String) => {
      val st = s"q230_graph_${Integer.toHexString(d.hashCode)}"
      maintainGraph(s, st, GraphState.Triangles, graphWaves(s, d),
          coOrderPairs(s, d)(_ => lit(false)))
        .withColumnRenamed("node", "part_id").orderBy("part_id")
    }, Some(graft.ops.Graph.triangleStatsSql(
      """e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0)""".stripMargin,
      nodeAs = "part_id") + "\nORDER BY part_id")),

    // Streaming k-CORE maintenance (round-14, beyond the asks): the
    // q230 maintained-pair posture on the SECOND graph operator — the
    // same three crawl waves (shared staging) fold into an
    // (edges, core) pair through [[foldWaves]], each microbatch one
    // frontier-expansion advance (Graph.advanceKCoreCore — old
    // survivors pass through, only the delta's region peels). The
    // maintained survivor set must equal the from-scratch FIXED-POINT
    // peel over the union (k=20 stabilizes in ≤3 rounds at every
    // fixture scale; the unrolled CTE runs 5).
    ("q236_stream_kcore_maintain", (s: SparkSession, d: String) => {
      val st = s"q236_graph_${Integer.toHexString(d.hashCode)}"
      maintainGraph(s, st, GraphState.KCore(20), graphWaves(s, d),
          coOrderPairs(s, d)(_ => lit(false)))
        .withColumnRenamed("node", "part_id").orderBy("part_id")
    }, Some(graft.ops.Graph.kCoreSql(
      """p AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        |e0 AS (SELECT a AS src, b AS dst FROM p
        |       UNION ALL SELECT b, a FROM p)""".stripMargin,
      // assertFixedPoint: a too-shallow unroll returns 0 rows — loud
      k = 20, iters = 5, nodeAs = "part_id",
      assertFixedPoint = true) + "\nORDER BY part_id")),

    // Streaming k-core RETRACTION (round-14 verdict's top ask — the
    // full maintained-pair lifecycle): the q236 loop now interleaves
    // INSERT and DELETE waves — two crawl waves fold in, a takedown
    // wave retracts a slice of what landed (every pair with
    // (src+dst)%5==0 — deletion cascades through the core from the
    // removed edges' endpoints, Graph.retractKCoreCore), then a third
    // crawl wave lands on the shrunken state. Set semantics
    // throughout (an edge has no multiplicity), so the net edge set is
    // ((A ∪ B) ∖ D) ∪ C and the oracle is the from-scratch FIXED-POINT
    // peel of exactly that — maintained ≡ net, to the hash, with the
    // unroll-depth assertion keeping a too-shallow oracle loud.
    ("q237_stream_kcore_retract", (s: SparkSession, d: String) => {
      val st = s"q237_graph_${Integer.toHexString(d.hashCode)}"
      val view = GraphState.KCore(20)
      val pairsOf = coOrderPairs(s, d) _
      val takedown = pairsOf(ok => ok % 3 =!= 2)
        .where((col("src") + col("dst")) % 11 === 0)
      val dir = stageWavesCached(d, "graph-waves-ops")(Seq(
        pairsOf(ok => ok % 3 === 0).withColumn("op", lit("add")),
        pairsOf(ok => ok % 3 === 1).withColumn("op", lit("add")),
        takedown.withColumn("op", lit("del")),
        pairsOf(ok => ok % 3 === 2).withColumn("op", lit("add"))))
      val empty = pairsOf(_ => lit(false)).withColumn("op", lit("add"))
      GraphState.init(s, st, view, empty.drop("op"), "src", "dst")
      foldWaves(s, dir, empty.schema) { b =>
        val adds = b.where(col("op") === "add").drop("op")
        val dels = b.where(col("op") === "del").drop("op")
        if (!adds.isEmpty)
          GraphState.advance(s, st, view, adds, "src", "dst")
        if (!dels.isEmpty)
          GraphState.retract(s, st, view, dels, "src", "dst")
      }
      GraphState.table(s, st, view)
        .withColumnRenamed("node", "part_id").orderBy("part_id")
    }, Some(graft.ops.Graph.kCoreSql(
      """pab AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
        |    AND a.l_orderkey % 3 <> 2),
        |pc AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
        |    AND a.l_orderkey % 3 = 2),
        |pnet AS (
        |  SELECT a, b FROM pab WHERE (a + b) % 11 <> 0
        |  UNION
        |  SELECT a, b FROM pc),
        |e0 AS (SELECT a AS src, b AS dst FROM pnet
        |       UNION ALL SELECT b, a FROM pnet)""".stripMargin,
      k = 20, iters = 6, nodeAs = "part_id",
      assertFixedPoint = true) + "\nORDER BY part_id")),

    // Streaming COMMUNITY maintenance (round-14 verdict #3 — the
    // third derived view on the maintained pair): the same three
    // crawl waves fold into an (edges, comm) pair through
    // [[foldWaves]], each microbatch re-running 3 deterministic warm
    // Louvain parity rounds SEEDED from the stored assignment
    // (GraphState.advance over Communities / Graph.louvainWarm) — untouched
    // communities re-stabilize in zero moves, only the delta's
    // neighborhood re-settles, and recovery replays an interrupted
    // advance bit-identically (the assignment is a pure function of
    // the two crash survivors: new edges + previous assignment).
    // Unlike the triangle/k-core views there is no from-scratch
    // shortcut for the oracle — the assignment is path-dependent — so
    // the oracle replays the ENTIRE maintained history: wave 1 cold,
    // waves 2-3 warm over the cumulative edge sets, every gain argmax
    // in exact integers (louvainWarmChainSql). Labels canonicalized
    // to min member (the q217 convention).
    ("q238_stream_comm_maintain", (s: SparkSession, d: String) => {
      val st = s"q238_graph_${Integer.toHexString(d.hashCode)}"
      val res = maintainGraph(s, st, GraphState.Communities(3),
        graphWaves(s, d), coOrderPairs(s, d)(_ => lit(false)))
      val canon = res.groupBy("community").agg(min("node").as("__cl"))
      res.join(canon, Seq("community"))
        .select(col("node").as("part_id"), col("__cl").as("community"))
        .orderBy("part_id")
    }, Some(graft.ops.Graph.louvainWarmChainSql(
      """pall AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b,
        |         min(a.l_orderkey % 3) AS wv
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
        |  GROUP BY 1, 2),
        |e1 AS (SELECT a AS src, b AS dst, 1 AS w FROM pall WHERE wv = 0
        |       UNION ALL SELECT b, a, 1 FROM pall WHERE wv = 0),
        |e2 AS (SELECT a AS src, b AS dst, 1 AS w FROM pall WHERE wv <= 1
        |       UNION ALL SELECT b, a, 1 FROM pall WHERE wv <= 1),
        |e3 AS (SELECT a AS src, b AS dst, 1 AS w FROM pall
        |       UNION ALL SELECT b, a, 1 FROM pall)""".stripMargin,
      waveEdgeNames = Seq("e1", "e2", "e3"), iters = 3,
      tail =
        """SELECT lv.node AS part_id, cn.clabel AS community
          |FROM lv JOIN (SELECT community, min(node) AS clabel
          |              FROM lv GROUP BY community) cn USING (community)
          |ORDER BY part_id""".stripMargin))),

    // Streaming HyperANF maintenance (round-14 verdict stretch #9 —
    // the maintained-pair posture on the DISTANCE view): the q232
    // part–supplier bipartite graph arrives in three crawl waves and
    // the full register ladder (levels 0..3) lives as state, each
    // microbatch advancing it by EXACT per-level changed-frontier
    // propagation (GraphState.advance over Anf — registers are
    // monotone max-mergeable, so only the delta's neighborhood
    // recomputes per level and every other row passes through
    // byte-identical). Because the maintained ladder is
    // register-bit-identical to a from-scratch t-round run over the
    // net edge set, the oracle is simply the existing
    // neighborhoodFunction unroll over the union.
    ("q243_stream_anf_maintain", (s: SparkSession, d: String) => {
      val st = s"q243_graph_${Integer.toHexString(d.hashCode)}"
      def edgesOf(pred: Column => Column) =
        table(s, d, "lineitem")
          .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey")))
          .select(col("l_partkey").as("src"),
            (col("l_suppkey") + 1000000000L).as("dst"))
      val dir = stageWavesCached(d, "anf-waves")(
        (0 to 2).map(m => edgesOf(ok => ok % 3 === m)))
      graft.ops.Graph.anfEstimates(maintainGraph(s, st, GraphState.Anf(3),
          dir, edgesOf(_ => lit(false))))
        .orderBy("node", "t")
    }, Some(graft.ops.Graph.neighborhoodFunctionSql(
      """p AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey + 1000000000 AS BIGINT) AS b
        |  FROM lineitem WHERE l_partkey % 3 = 0),
        |e AS (SELECT a AS src, b AS dst FROM p
        |      UNION ALL SELECT b, a FROM p)""".stripMargin,
      iters = 3) + "\nORDER BY node, t"))
  )
}
