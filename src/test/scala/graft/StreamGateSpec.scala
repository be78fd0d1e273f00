package graft

import org.apache.spark.sql.functions._

import graft.queries.Catalog
import graft.testkit.TempDirs.withTempDir

/** The q122-q130 streaming gate family, exercised at sf0.001 against
  * in-Spark BATCH replicas of their oracles — so `sbt test` catches a
  * broken wave harness or a drifted watermark assumption without
  * waiting for the driver's DuckDB gate. The DuckDB oracles remain the
  * authoritative cross-engine check; these replicas state the same
  * arithmetic in Spark. */
class StreamGateSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = Catalog.queries(name)(spark, sf)

  test("q122 equals the two-watermark batch replica (late stragglers dropped)") {
    val events = graft.ops.Tables.table(spark, sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val e = col("ts").cast("double")
    val mm = events.agg(min(e), max(e)).head()
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val split = mn + 0.8 * (mx - mn)
    val isLate = col("user_id") % 10 === 0
    val wa = events.where(!isLate && e <= split)
    val wm0 = wa.agg(max(e)).head().getDouble(0) - 3600.0
    val admitted = wa
      .unionAll(events.where(!isLate && e > split))
      .unionAll(events.where(isLate)
        .where(floor(e / 3600) * 3600 + 3600 > wm0))
    val expected = admitted
      .groupBy((floor(e / 3600) * 3600).cast("long").as("win_start"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Tables.dsum(col("value")).as("sum_value"))
      .where(col("win_start") + 3600 <= mx - 3600.0)
    val got = q("q122_stream_tumbling_late")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streamed windows must equal the two-watermark batch replica")
    // the late path must actually bite on this fixture
    val all = events.count()
    val emitted = got.agg(sum(col("n_events"))).head().getLong(0)
    assert(emitted < all, "no stragglers were dropped — the late path is dead")
  }

  test("q123 replay dedup emits every event exactly once") {
    val got = q("q123_stream_dedup_replay")
    val n = graft.ops.Tables.table(spark, sf, "events").count()
    assert(got.count() == n)
    assert(got.select("event_id").distinct().count() == n)
  }

  test("q124/q128 running state equals batch groupBy through both state APIs") {
    val expected = graft.ops.Tables.table(spark, sf, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("total_cents"))
    Seq("q124_stream_state_running", "q128_stream_state_tws").foreach { name =>
      val got = q(name)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"$name must equal the batch groupBy")
    }
  }

  test("q130 alerts equal floor(total/step) multiples per user") {
    val got = q("q130_stream_alerts")
      .groupBy("user_id").agg(count(lit(1)).as("n"), max("crossed_at").as("mx"))
    val expected = graft.ops.Tables.table(spark, sf, "events")
      .groupBy("user_id")
      .agg((sum(floor(col("value") * 100).cast("long")) / 100000L)
        .cast("long").as("k"))
      .where(col("k") >= 1)
      .select(col("user_id"), col("k").as("n"), col("k").as("mx"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("q147 composed ingest pipeline equals the batch composition") {
    val got = q("q147_stream_ingest_pipeline")
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // the batch replica: distinct delivered set → normalize → gate
    val delivered = docs.where(col("doc_id") % 3 < 2)
      .unionAll(docs.where(col("doc_id") % 3 === 2))
      .unionAll(docs.where(col("doc_id") % 6 === 0))
      .distinct()
    val tn = graft.ops.TextOps.normalizeText(col("text"))
    val expected = delivered
      .withColumn("tn", tn)
      .withColumn("ts", split(trim(col("tn")), "\\s+"))
      .withColumn("n_tokens", size(col("ts")).cast("long"))
      .withColumn("ttr",
        size(array_distinct(col("ts"))).cast("double") /
          size(col("ts")).cast("double"))
      .where(col("n_tokens") >= 8 && col("ttr") > 0.55)
      .select(col("doc_id"), col("n_tokens"), md5(col("tn")).as("digest"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streamed pipeline must equal its batch composition")
    // both legs must bite on this fixture. The QUALITY GATE: fewer
    // survivors than distinct delivered docs
    val kept = got.count()
    val nDelivered = delivered.count()
    assert(kept > 0 && kept < nDelivered, "the quality gate is dead")
    // The REPLAY DEDUP, asserted directly: the sink carries each doc_id
    // at most once even though wave B re-delivered the %6==0 docs — and
    // at least one re-delivered doc passed the gate, so the dedup state
    // genuinely collapsed a duplicate (the assertion is not vacuous)
    assert(got.groupBy("doc_id").count().where(col("count") > 1).isEmpty,
      "a re-delivered doc appeared twice — dropDuplicates state is dead")
    assert(got.where(col("doc_id") % 6 === 0).count() > 0,
      "no re-delivered doc survived the gate — the dedup check is vacuous")
  }

  test("q160 streamed monoid state equals the one-shot aggregate over all events") {
    import graft.ops.Incremental
    val events = graft.ops.Tables.table(spark, sf, "events")
    val expected = Incremental.finish(
      Incremental.aggState(events, Seq("event_type"), "value", scale = 6),
      Seq("event_type"))
    val got = q("q160_stream_state_advance")
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "three folded waves must equal the whole-corpus aggregate")
  }

  test("q177 streamed CDC equals the one-shot changelog apply (in-order waves)") {
    // the per-wave apply equals the one-shot apply only when the waves
    // arrive in seq order, so a reordered replay fails here
    val base = graft.ops.Tables.table(spark, sf, "customer").select(
      col("c_custkey").as("k"), col("c_name").as("name"),
      floor(col("c_acctbal") * 100).as("cents"))
    val changes = graft.ops.Tables.table(spark, sf, "orders").select(
      col("o_custkey").as("k"), col("o_orderkey").as("seq"),
      when(col("o_orderstatus") === "P", "D")
        .when(col("o_orderstatus") === "O", "I")
        .otherwise("U").as("op"),
      concat(lit("cust-"), col("o_custkey")).as("name"),
      floor(col("o_totalprice") * 100).as("cents"))
    val expected = graft.ops.Warehouse.applyChangelog(base, changes,
      "k", "seq", "op", Seq("name", "cents"))
    val got = q("q177_stream_cdc_apply")
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "three folded CDC waves must equal the one-shot MERGE")
  }

  private def foldCkpts: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSeq.flatten.filter(_.startsWith("graft-fold-ckpt")).toSet

  /** Whether `e` or one of its causes carries `msg`. */
  private def surfaced(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains(msg)))

  test("a failing wave fold surfaces its exception and leaves no checkpoint behind") {
    withTempDir("graft-fold-waves") { dir =>
      spark.range(5).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val before = foldCkpts
      val e = intercept[Exception] {
        graft.queries.CatalogStream.foldWaves(spark, dir,
          spark.read.parquet(dir).schema) { _ =>
          throw new IllegalStateException("wave fold failed on purpose")
        }
      }
      assert(surfaced(e, "wave fold failed on purpose"),
        s"the batch function's failure must surface, got $e")
      assert(foldCkpts == before, s"checkpoint left behind: ${foldCkpts -- before}")
    }
  }

  test("a maintained state whose step fails on wave 2 keeps wave 1's fold and no staging") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val st = "stream_gate_spec_state"
    withTempDir("graft-state-waves") { root =>
      // three one-file waves of ids, mtimes in wave order
      val waves = Files.createDirectory(Paths.get(root, "waves"))
      val t0 = System.currentTimeMillis() - 600000L
      for (i <- 1 to 3) {
        val out = s"$root/w$i"
        spark.range(i * 10, i * 10 + 5).toDF("id").coalesce(1).write.parquet(out)
        val part = new java.io.File(out).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        val dest = Files.move(part.toPath, waves.resolve(s"wave-$i.parquet"))
        Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 60000L))
      }
      val before = foldCkpts
      var step = 0
      try {
        val e = intercept[Exception] {
          graft.queries.CatalogStream.maintainState(spark, st,
              spark.range(0).toDF("id"), waves.toString,
              spark.range(0).toDF("id").schema) { (cur, w) =>
            step += 1
            if (step == 2) throw new IllegalStateException("state step failed on wave 2")
            cur.unionByName(w)
          }
        }
        assert(surfaced(e, "state step failed on wave 2"),
          s"the step's failure must surface, got $e")
        assert(step == 2, s"the fold must stop at the failing wave, ran $step steps")
        assert(foldCkpts == before, s"checkpoint left behind: ${foldCkpts -- before}")
        assert(spark.table(st).as[Long].collect().sorted.toSeq == (10L until 15L),
          "the live table must hold exactly wave 1's fold")
        Seq(s"${st}__next", s"${st}__old").foreach(t =>
          assert(!spark.catalog.tableExists(t), s"$t left in the catalog"))
      } finally graft.ops.Incremental.dropStateTables(spark, st)
    }
  }

  test("q193 left-outer join: null rows emit on eviction, never before; both classes live") {
    val got = q("q193_stream_stream_outer").cache()
    // batch replica of the oracle arithmetic
    val e0 = graft.ops.Tables.table(spark, sf, "events")
      .where(col("user_id") % 3 === 0)
      .select(col("event_id"), col("ts").cast("timestamp").cast("double").as("e"),
        col("user_id"))
    val a = e0.where(col("event_id") % 2 === 0)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("e").as("a_e"))
    val b = e0.where((col("event_id") % 2 === 1) && (col("user_id") % 9 =!= 0))
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("e").as("b_e"))
    val maxA = a.agg(max("a_e")).head().getDouble(0)
    val maxB = b.agg(max("b_e")).head().getDouble(0)
    // ms-floored like the engine's watermark (the oracle's formula)
    val wm = (math.min(maxA, maxB) * 1000.0).toLong / 1000.0 - 3600.0
    val matched = a.join(b, col("b_user") === col("a_user") &&
        col("b_e").between(col("a_e") - 600, col("a_e") + 600))
      .select(col("a_id"), col("b_id"))
    val unmatched = a.join(matched.select("a_id").distinct(), Seq("a_id"),
      "left_anti")
    val evicted = unmatched.where(col("a_e") + 600.0 < wm)
      .select(col("a_id"), lit(null).cast("long").as("b_id"))
    val withheld = unmatched.where(col("a_e") + 600.0 >= wm)
    val expected = matched.unionAll(evicted)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "sink must equal matched + evicted-unmatched null rows exactly")
    // emission is an EVICTION event: withheld unmatched rows (horizon
    // still open at stream end) must be absent from the sink
    assert(withheld.count() > 0, "no withheld unmatched rows — the " +
      "emit-on-eviction-not-before half of the contract is vacuous")
    assert(got.join(withheld.select("a_id"), Seq("a_id")).isEmpty,
      "a withheld unmatched row leaked into the sink before eviction")
    // the engineered no-partner class (user%9==0 excluded from b) must
    // appear among the emitted nulls — the null path provably fired
    assert(got.where(col("b_id").isNull && col("a_id").isin(
        unmatched.where(col("a_user") % 9 === 0).select("a_id")
          .as[Long].collect().toSeq: _*)).count() > 0,
      "no engineered unmatched row was null-emitted")
    got.unpersist()
  }

  test("q211 full-outer join: both sides null-emit on eviction only; all five classes live") {
    val got = q("q211_stream_stream_full_outer").cache()
    // batch replica of the oracle arithmetic (both sides)
    val e0 = graft.ops.Tables.table(spark, sf, "events")
      .where(col("user_id") % 3 === 0)
      .select(col("event_id"), col("ts").cast("timestamp").cast("double").as("e"),
        col("user_id"))
    val a = e0.where((col("event_id") % 2 === 0) && (col("user_id") % 9 =!= 1))
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("e").as("a_e"))
    val b = e0.where((col("event_id") % 2 === 1) && (col("user_id") % 9 =!= 0))
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("e").as("b_e"))
    val maxA = a.agg(max("a_e")).head().getDouble(0)
    val maxB = b.agg(max("b_e")).head().getDouble(0)
    val wm = (math.min(maxA, maxB) * 1000.0).toLong / 1000.0 - 3600.0
    val matched = a.join(b, col("b_user") === col("a_user") &&
        col("b_e").between(col("a_e") - 600, col("a_e") + 600))
      .select(col("a_id"), col("b_id"))
    val unA = a.join(matched.select("a_id").distinct(), Seq("a_id"), "left_anti")
    val unB = b.join(matched.select("b_id").distinct(), Seq("b_id"), "left_anti")
    val evA = unA.where(col("a_e") + 600.0 < wm)
      .select(col("a_id"), lit(null).cast("long").as("b_id"))
    val evB = unB.where(col("b_e") + 600.0 < wm)
      .select(lit(null).cast("long").as("a_id"), col("b_id"))
    val withheldA = unA.where(col("a_e") + 600.0 >= wm)
    val withheldB = unB.where(col("b_e") + 600.0 >= wm)
    val expected = matched.unionAll(evA).unionAll(evB)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "sink must equal matched + both sides' evicted null rows exactly")
    // every class nonempty — the contract is proven, not vacuous
    assert(matched.count() > 0 && evA.count() > 0 && evB.count() > 0,
      "an emission class is empty on this fixture")
    assert(withheldA.count() > 0 && withheldB.count() > 0,
      "a withheld class is empty — eviction-not-flush is vacuous")
    assert(got.where(col("b_id").isNull).join(
        withheldA.select("a_id"), Seq("a_id")).isEmpty,
      "a withheld A row leaked before eviction")
    assert(got.where(col("a_id").isNull).join(
        withheldB.select("b_id"), Seq("b_id")).isEmpty,
      "a withheld B row leaked before eviction")
    got.unpersist()
  }

  test("q212 bounded dedup: re-stamped retries collapse; only past-horizon retries re-emit") {
    val got = q("q212_stream_dedup_bounded").cache()
    val e0 = graft.ops.Tables.table(spark, sf, "events")
      .where(col("user_id") % 4 === 2)
      .select(col("event_id"), col("ts").cast("timestamp").cast("double").as("t"))
    val mm = e0.agg(min("t"), max("t")).head()
    val s1 = mm.getDouble(0) + (mm.getDouble(1) - mm.getDouble(0)) / 3
    val w1 = e0.where(col("t") <= s1).cache()
    // ms-floored eviction watermark after wave 1, 60 h delay
    val wm = (w1.agg(max("t")).head().getDouble(0) * 1000.0).toLong / 1000.0 - 216000.0
    val nEmitted = got.select("event_id", "n_emitted")
      .as[(Long, Long)].collect().toMap
    // %5 retries were DELIVERED with a different timestamp yet never
    // re-emitted — the business-key dedup plain (key, ts) dedup lacks
    val m5 = w1.where(col("event_id") % 5 === 0).select("event_id").as[Long].collect()
    assert(m5.nonEmpty && m5.forall(id => nEmitted(id) == 1L),
      "a +15 min retry leaked through the within-watermark dedup")
    // %7 retries at wave 3: dup-dropped or late-dropped, NEVER re-emitted
    val m7 = w1.where(col("event_id") % 7 === 0).select("event_id").as[Long].collect()
    assert(m7.nonEmpty && m7.forall(id => nEmitted(id) == 1L),
      "an original-horizon retry re-emitted — the late filter model is wrong")
    // %11 retries stamped past the horizon: re-emitted EXACTLY when the
    // original's state was evicted; both classes nonempty
    val m11 = w1.where(col("event_id") % 11 === 0)
      .select("event_id", "t").as[(Long, Double)].collect()
    val (evicted, alive) = m11.partition { case (_, t) => t + 216000.0 < wm }
    assert(evicted.nonEmpty && alive.nonEmpty, "an eviction class is empty")
    assert(evicted.forall { case (id, _) => nEmitted(id) == 2L },
      "an evicted key's past-horizon retry was not re-emitted")
    assert(alive.forall { case (id, _) => nEmitted(id) == 1L },
      "a live key's retry re-emitted — bounded state evicted too early")
    w1.unpersist(); got.unpersist()
    ()
  }

  test("q202 session funnel: timer eviction emits; open sessions withheld; cascade live") {
    val got = q("q202_stream_session_funnel").cache()
    // batch session count (flag/cumsum replica of the oracle)
    val ev = graft.ops.Tables.table(spark, sf, "events")
      .select(col("user_id").as("u"),
        col("ts").cast("timestamp").cast("double").as("e"),
        col("event_id").as("seq"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u").orderBy("e", "seq")
    val run = Window.partitionBy("u").orderBy("e", "seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nSessions = ev
      .withColumn("nw", (col("e") - lag(col("e"), 1).over(w) > 1800.0)
        .or(lag(col("e"), 1).over(w).isNull).cast("long"))
      .withColumn("sid", sum("nw").over(run))
      .select("u", "sid").distinct().count()
    val nEmitted = got.count()
    assert(nEmitted > 0 && nEmitted < nSessions,
      s"withheld class must be nonempty: emitted $nEmitted of $nSessions — " +
        "either the timer eviction or the eviction-not-flush half is dead")
    // the within-session cascade genuinely advances past step 1 somewhere
    assert(got.where(col("furthest_step") >= 2).count() > 0,
      "no session advanced past step 1 — the cascade is dead")
    // session grain: (user, start) unique
    assert(got.groupBy("user_id", "session_start_us").count()
      .where(col("count") > 1).isEmpty)
    got.unpersist()
  }
}
