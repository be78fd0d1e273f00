package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.{FileTopicSource, KinesisTopicSource, TopicSink}
import graft.delivery.Supervision
import graft.engine.GraftEngine
import graft.model.{ClientConfig, ConsumerConfig}
import graft.testkit.{FakeKinesis, FakeKinesisSender}
import graft.testkit.TempDirs.withTempDir

import scala.concurrent.duration._

/** Engine install paths, registry (eager topic subscriptions) + backoff
  * supervision. */
class EngineSpec extends SparkSpec {

  test("topic registry starts registered subscriptions and processes data") {
    withTempDir("graft-engine") { dir =>
      graft.ops.Tables.table(spark, sf, "events")
        .write.mode("overwrite").parquet(s"$dir/topic")
      val seen = new ConcurrentLinkedQueue[Long]()
      val registry = new GraftEngine.TopicRegistry(spark, s"$dir/ckpt")
      registry.register(GraftEngine.Subscription(
        source = FileTopicSource("events", s"$dir/topic",
          schema = graft.ops.Tables.table(spark, sf, "events").schema),
        groupId = "engine-test",
        transform = df => df.filter(col("event_type") === "click"),
        process = (batch, _) => seen.add(batch.count())))
      val queries = registry.startAll()
      assert(queries.size == 1)
      queries.foreach(_.awaitTermination()) // AvailableNow drains and stops
      registry.stopAll()
      import scala.jdk.CollectionConverters._
      assert(seen.size() >= 1 && seen.asScala.sum > 0,
        "click events must have been processed")
    }
  }

  test("engine end-to-end: kinesis subscription consumes, processes, republishes") {
    // the reference's full lifecycle in one loop: registry-declared
    // subscription reads a (fake) kinesis stream through the production
    // KinesisTopicSource.load(), the processing function relays through
    // the ordered sink into a second stream
    FakeKinesis.createStream("e2e-in", 2)
    FakeKinesis.createStream("e2e-out", 2)
    (0 until 12).foreach(i =>
      FakeKinesis.putRecord("e2e-in", s"k${i % 3}", s"""{"v":$i}""".getBytes("UTF-8")))
    withTempDir("graft-e2e") { dir =>
      val seen = new ConcurrentLinkedQueue[Long]()
      val registry = new GraftEngine.TopicRegistry(spark, s"$dir/ckpt")
      registry.register(GraftEngine.Subscription(
        source = KinesisTopicSource("e2e-in", ConsumerConfig(Some("app"), maxBatchSize = 100)),
        groupId = "g-e2e",
        transform = identity,
        process = (batch, _) => {
          batch.select("sequenceNumber").collect()
            .foreach(r => seen.add(r.getString(0).toLong))
          val env = batch.select(col("data"), col("partitionKey"),
            lit(null).cast("string").as("explicitHashKey"),
            col("sequenceNumber").cast("long").as("seq"))
          TopicSink.writeOrdered(env, "seq", () => new FakeKinesisSender("e2e-out"), 2)
        }))
      val queries = registry.startAll()
      queries.foreach(_.awaitTermination())
      registry.stopAll()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSet == (0L until 12L).toSet,
        s"subscription must consume every record exactly once: ${seen.asScala.toSet}")
      val out = (0 until 2).flatMap(s => FakeKinesis.slice("e2e-out", s, 0L, 12L))
      assert(out.size == 12, s"republished stream incomplete: ${out.size}")
      for ((k, recs) <- out.groupBy(_.partitionKey)) {
        val vals = recs.sortBy(_.seq).map(r => new String(r.data, "UTF-8"))
        val expected = (0 until 12).filter(i => s"k${i % 3}" == k).map(i => s"""{"v":$i}""")
        assert(vals == expected, s"per-key order broken in republished stream for $k")
      }
    }
  }

  test("producer role gates publication placement (reference parity)") {
    withTempDir("graft-pub") { dir =>
      graft.ops.Tables.table(spark, sf, "region")
        .write.mode("overwrite").parquet(s"$dir/topic")
      val started = new ConcurrentLinkedQueue[String]()
      def pub(id: String, role: Option[String]) =
        GraftEngine.Publication(id, graft.model.ProducerConfig(role), { () =>
          started.add(id)
          graft.delivery.Delivery.atLeastOnce(
            spark.readStream
              .schema(graft.ops.Tables.table(spark, sf, "region").schema)
              .parquet(s"$dir/topic"),
            s"pub-$id", s"$dir/ckpt")((batch, _) => batch.count())
        })
      val registry = new GraftEngine.TopicRegistry(spark, s"$dir/ckpt",
        nodeRoles = Set("writer"))
      registry.register(pub("roleless", None))
      registry.register(pub("gated-match", Some("writer")))
      registry.register(pub("gated-other", Some("reader")))
      val queries = registry.startProducers()
      queries.foreach(_.awaitTermination())
      registry.stopAll()
      import scala.jdk.CollectionConverters._
      assert(started.asScala.toSet == Set("roleless", "gated-match"),
        s"role gating placed the wrong producers: ${started.asScala.toSet}")
      assert(queries.size == 2)
    }
  }

  /** Every `graft_*` SQL function: a call over inline data (no temp
    * view, so it runs on any session) and the value it must give. */
  private lazy val sqlSurface: Seq[(String, String, Any)] = Seq(
    ("graft_cosine", "SELECT graft_cosine(CAST(array(1, 0) AS ARRAY<FLOAT>), " +
      "CAST(array(1, 0) AS ARRAY<FLOAT>))", 1.0),
    ("graft_dot", "SELECT graft_dot(CAST(array(1, 2) AS ARRAY<FLOAT>), " +
      "CAST(array(3, 4) AS ARRAY<FLOAT>))", 11.0),
    ("graft_simhash", "SELECT graft_simhash(array('a', 'b'))",
      spark.range(1).select(graft.functions.SimHashAgg.simRow(array(lit("a"), lit("b"))))
        .head().getLong(0)),
    ("graft_minhash", "SELECT size(graft_minhash(array('a', 'b'), 8))", 8),
    ("graft_minhash_chars", "SELECT size(graft_minhash_chars('hello world', 3, 8))", 8),
    ("graft_pack_int8", "SELECT hex(graft_pack_int8(array(1L, -1L, 127L)))", "01FF7F"),
    ("graft_int8_dot", "SELECT graft_int8_dot(graft_pack_int8(array(1L, 2L)), " +
      "graft_pack_int8(array(3L, -4L)))", -5L),
    ("graft_sig_matches", "SELECT graft_sig_matches(array(1L, 2L, 3L), array(1L, 9L, 3L))", 2),
    ("graft_byte_histogram",
      "SELECT element_at(graft_byte_histogram(CAST('aab' AS BINARY)), 7)", 3),
    ("graft_byte_gram_signature",
      "SELECT size(graft_byte_gram_signature(CAST('alpha beta' AS BINARY), 64))", 64),
    ("graft_topk", "SELECT graft_topk(v, 2) FROM VALUES (1.0D), (3.0D), (2.0D) AS t(v)",
      Seq(3.0, 2.0)),
    ("graft_centroid", "SELECT graft_centroid(v) FROM VALUES " +
      "(CAST(array(1, 2) AS ARRAY<FLOAT>)), (CAST(array(3, 4) AS ARRAY<FLOAT>)) AS t(v)",
      Seq(2.0f, 3.0f)),
    ("graft_char_entropy", "SELECT graft_char_entropy('abcd')", 2.0))

  /** Run `body` on a new session from `builder` (not the engine's
    * builder), then give the thread back its active session. */
  private def withNewSession(builder: SparkSession.Builder)(body: SparkSession => Unit): Unit = {
    val active = SparkSession.getActiveSession
    try body(builder.create())
    finally active match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }

  private def asofOn(s: SparkSession) = graft.ops.AsOfJoin.asofPlanned(
    s.range(4).selectExpr("id AS k", "id * 10 AS t"),
    s.range(4).selectExpr("id AS rk", "id * 10 - 5 AS rt", "id AS v"),
    "k", "rk", "t", "rt", Seq("v"))

  test("GraftExtensions injects the as-of strategy and working SQL functions") {
    // a session built with the extension alone: exactly the 13 names of
    // the SQL surface and the one strategy
    withNewSession(SparkSession.builder().withExtensions(new GraftExtensions)) { s =>
      assert(GraftSqlShim.plannerStrategies(s).count(_ == graft.plans.AsOfJoinStrategy) == 1)
      val injected = s.catalog.listFunctions().collect().map(_.name)
        .filter(_.startsWith("graft_")).toSet
      assert(injected == sqlSurface.map(_._1).toSet,
        s"missing ${sqlSurface.map(_._1).toSet -- injected}, extra ${injected -- sqlSurface.map(_._1)}")
    }
    // every injected builder must produce a usable expression
    val builders = GraftExtensions.functions.toMap
    val cos = builders("graft_cosine")
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(1.0f, 0.0f), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    assert(cos(Seq(lit, lit)).eval(null) == 1.0)
    val mh = builders("graft_minhash")
    val toks = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array("a", "b"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val eight = org.apache.spark.sql.catalyst.expressions.Literal(8)
    assert(mh(Seq(toks, eight)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 8)
  }

  test("every graft_* SQL function resolves on the engine-built session, no register call") {
    sqlSurface.foreach { case (name, sql, want) =>
      assert(spark.sql(sql).head().get(0) == want, s"$name: $sql")
    }
  }

  test("install retrofits a foreign session once: SQL surface, one strategy, modifiable confs") {
    withNewSession(SparkSession.builder()) { foreign =>
      // the shared context carries the engine confs the test session was
      // built with; clear them here so install has them to set
      val modifiable = GraftEngine.recommendedConfs.filter {
        case (k, _) => foreign.conf.isModifiable(k)
      }
      modifiable.keys.foreach(foreign.conf.unset)
      assert(modifiable.exists { case (k, v) => !foreign.conf.getOption(k).contains(v) })
      intercept[org.apache.spark.sql.AnalysisException](
        foreign.sql("SELECT graft_char_entropy('ab')").collect())
      val refused = intercept[IllegalArgumentException](asofOn(foreign))
      assert(refused.getMessage.contains("GraftEngine.install"), refused.getMessage)

      GraftEngine.install(foreign)
      GraftEngine.install(foreign)
      sqlSurface.foreach { case (name, sql, want) =>
        assert(foreign.sql(sql).head().get(0) == want, s"$name: $sql")
      }
      assert(GraftSqlShim.plannerStrategies(foreign)
        .count(_ == graft.plans.AsOfJoinStrategy) == 1)
      modifiable.foreach { case (k, v) =>
        assert(foreign.conf.get(k) == v, s"install must set $k=$v")
      }
      val planned = asofOn(foreign)
      assert(planned.queryExecution.sparkPlan.collect {
        case j: graft.plans.AsOfJoinExec => j }.size == 1)
      assert(planned.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (0L until 4L).map(i => i -> i).toMap)
    }
  }

  test("recommended conf posture: builder pins every key, retrofit every modifiable one") {
    // the builder path: every recommended key must be baked into the
    // builder's options (the session under test was built elsewhere, so
    // assert on the builder rather than a second context)
    val opts = org.apache.spark.sql.GraftSqlShim.builderOptions(
      GraftEngine.sessionBuilder("local[2]", shufflePartitions = 2))
    GraftEngine.recommendedConfs.foreach { case (k, v) =>
      assert(opts.get(k).contains(v), s"builder must pin $k=$v, got ${opts.get(k)}")
    }
    assert(opts.get("spark.sql.shuffle.partitions").contains("2"))
    // the generated-code cache size is the one static key: it can only
    // be passed at launch, and the builder-made session under test has it
    val (modifiable, static) = GraftEngine.recommendedConfs.partition {
      case (k, _) => spark.conf.isModifiable(k)
    }
    assert(static.keySet == Set("spark.sql.codegen.cache.maxEntries"),
      s"unexpected static keys in the posture: ${static.keySet}")
    static.foreach { case (k, v) => assert(spark.conf.get(k) == v) }
    // the retrofit path: sets every modifiable key, skips the static one
    // (spark.conf.set throws on static keys)
    val before = modifiable.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      GraftEngine.install(spark)
      modifiable.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"install must set $k=$v")
      }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a fixture read leaves the caller's nanosAsLong conf as the caller set it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val events = graft.ops.Tables.table(spark, sf, "events")
      assert(spark.conf.get(key) == "false", "Tables.table rewrote the session conf")
      // the fixture's microsecond ts still reads as a timestamp
      assert(events.schema("ts").dataType.typeName.startsWith("timestamp"))
    } finally spark.conf.set(key, prev)
  }

  test("a rotation of more than 100 generated classes compiles nothing the second time") {
    // Spark's default generated-code cache holds 100 classes, an LRU: a
    // working set past it (one catalog_mix pass needs ~145) evicts each
    // class before its next use, so every call compiles again. Each
    // query here compiles its own classes (the literal is inlined into
    // the generated source).
    def rotation(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 120).foreach { i =>
        spark.range(4).select((col("id") * 7919 + i).as("v")).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = rotation()
    assert(first > 100, s"the rotation must exceed Spark's default cache, compiled $first")
    val second = rotation()
    assert(second == 0, s"the second rotation compiled $second classes again")
  }

  test("backoff supervision restarts a failing query with growing delays") {
    withTempDir("graft-sup") { dir =>
      graft.ops.Tables.table(spark, sf, "region")
        .write.mode("overwrite").parquet(s"$dir/topic")
      val delays = scala.collection.mutable.ListBuffer[Long]()
      @volatile var failures = 2
      val restarts = Supervision.superviseSync(
          ClientConfig(None, None, None, None,
            minBackoff = 10.millis, maxBackoff = 80.millis),
          maxRestarts = 5,
          sleeper = d => delays += d)(() =>
        graft.delivery.Delivery.atLeastOnce(
          spark.readStream
            .schema(graft.ops.Tables.table(spark, sf, "region").schema)
            .parquet(s"$dir/topic"),
          "sup-test", s"$dir/ckpt-${System.nanoTime()}") { (batch, _) =>
          if (failures > 0) { failures -= 1; sys.error("boom") }
          batch.count()
        })
      assert(restarts == 2, s"expected 2 restarts, got $restarts")
      assert(delays.size == 2 && delays(1) >= delays.head,
        s"backoff must not shrink: $delays")
    }
  }

  test("nextBackoff follows min * 2^attempt capped at max") {
    val cfg = ClientConfig(None, None, None, None,
      minBackoff = 3.seconds, maxBackoff = 30.seconds, randomFactor = 0.0)
    val rnd = new scala.util.Random(1)
    assert(Supervision.nextBackoff(cfg, 0, rnd) == 3.seconds)
    assert(Supervision.nextBackoff(cfg, 1, rnd) == 6.seconds)
    assert(Supervision.nextBackoff(cfg, 2, rnd) == 12.seconds)
    assert(Supervision.nextBackoff(cfg, 5, rnd) == 30.seconds) // capped
  }
}
