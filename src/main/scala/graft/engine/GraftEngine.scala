package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftExtensions
import graft.connector.TopicSource
import graft.delivery.Delivery
import graft.plans.AsOfJoinStrategy

/** Engine bootstrap + topic/query registry (SURVEY.md §2a #22-#23).
  *
  * The reference eagerly walks service descriptors and starts one producer
  * per topic at startup (ScaladslRegisterTopicProducers.scala:33-101,
  * LagomKinesisComponents.scala:29-31). Spark-first, the registry holds
  * declared subscriptions (topic source + user batch function) and starts
  * them as streaming queries on demand; "cluster distribution" of the work
  * is Spark's own task scheduling.
  */
object GraftEngine {

  /** The session-conf posture this engine's scale claims assume — THE
    * one place a deployment copies (SCALING.md cross-references it).
    * Rationale per key:
    *
    *  - AQE on with partition coalescing and skew-join splitting: the
    *    LSH bucket joins and decontamination joins are exactly the
    *    shapes where runtime re-planning absorbs residual skew the
    *    static plan cannot see (salting handles the known-key case).
    *  - `autoBroadcastJoinThreshold` pinned to 10 MB (Spark's default,
    *    stated explicitly): every "corpus never shuffles" plan in
    *    [[graft.ops.Dedup]]/[[graft.ops.Similarity]] relies on the
    *    small side broadcasting; a deployment that zeroes it silently
    *    converts those to shuffle joins.
    *  - ObjectHashAggregate fallback at 64k groups: the typed-aggregate
    *    buffers here are small (≤ 0.5 KB signature arrays / k-bounded
    *    heaps), so hash mode stays safe far past the 128-group default
    *    (64k groups/task ≈ 34 MB of buffers) — falling back to sort
    *    mode would re-sort every signature shuffle.
    *  - UTC + nanosAsLong: deterministic timestamp semantics against
    *    the parquet fixtures regardless of cluster-local zone.
    *  - Artifact session isolation off: every streaming query runs on a
    *    clone of its session, and with isolation on each clone gets a
    *    fresh executor classloader. Spark keys its generated-code cache
    *    on (classloader, source), so every relay drain and every
    *    supervised restart recompiled the same classes with Janino and
    *    re-JIT-compiled them (SCALING.md, "Relay: generated code per
    *    streaming query"). The engine adds no per-session artifacts
    *    (no `addArtifact`/`addJar`, no Connect), so there is nothing to
    *    isolate. Spark reads the key when a session is created; on a
    *    retrofitted session ([[install]]) it takes effect
    *    for the queries started after the call, whose sessions are
    *    cloned from it.
    *  - Generated-code cache at 1000 entries (Spark's default is 100):
    *    the cache is an LRU over every class Janino compiled, and one
    *    pass of the benchmark's catalog sample (q04, q206, q86, q233,
    *    q128) needs about 145 distinct classes: at 100 each class is
    *    evicted before the next pass uses it again, and every call
    *    recompiles and re-JIT-compiles its code (SCALING.md, "Catalog:
    *    generated-code cache working set"). 1000 leaves headroom over
    *    that working set; a relay drain needs about 9. This key is a
    *    STATIC SQL conf and the cache is one per JVM, sized when code
    *    is first generated: [[sessionBuilder]] pins it, but
    *    [[install]] cannot (`spark.conf.set` throws on
    *    static keys) and skips it, so a retrofitted session must pass
    *    it at launch (`--conf` or the builder) to get it.
    *
    * `spark.sql.shuffle.partitions` is deliberately NOT here: it is
    * cluster-sized (~2-3× total cores; 32 on local[32]), so
    * [[sessionBuilder]] takes it as a parameter instead. */
  val recommendedConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // AQE sort-merge → shuffled-hash conversion (round-15, guide §3.1):
    // when every post-shuffle partition of a join's build side measures
    // under this threshold AT RUNTIME, the sort of both sides is
    // replaced by a per-partition hash build — the wedge-closing
    // left-semi joins of the triangle family (a few MB of oriented
    // edges per partition hashing against millions of wedge rows) are
    // exactly the shape this wins on. Runtime-measured (not
    // estimate-driven), so the decision is scale-adaptive: a build
    // partition over the threshold keeps sort-merge. 64 MB ≈ half the
    // per-task execution-memory share at the default 8 g/32-core
    // local posture; a denser cluster can raise it.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      (64L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (10L * 1024 * 1024).toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Session with the scale-sane defaults this engine assumes
    * ([[recommendedConfs]]), 32 shuffle partitions for local[32] (a
    * real cluster sets ~2-3× total cores), and the engine's Catalyst
    * surface ([[graft.GraftExtensions]]): the built session runs every
    * `graft_*` SQL function and the native as-of join with no further
    * call. */
  def sessionBuilder(master: String = "local[32]",
                     shufflePartitions: Int = 32): SparkSession.Builder =
    recommendedConfs.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Fit the engine onto a session it did not build, e.g. a notebook or
    * harness session (idempotent): sets the runtime-settable
    * [[recommendedConfs]], registers every function of
    * [[graft.GraftExtensions.functions]] and adds the as-of join
    * strategy unless the session already plans with it. Static keys
    * (the generated-code cache size) are skipped: they only take effect
    * when passed at launch. */
  def install(spark: SparkSession): Unit = synchronized {
    recommendedConfs.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
    }
    GraftExtensions.functions.foreach { case (name, builder) =>
      GraftSqlShim.registerFunction(spark, name, builder)
    }
    if (!GraftSqlShim.plannerStrategies(spark).contains(AsOfJoinStrategy))
      new GraftExtensions()(GraftSqlShim.extensions(spark))
  }

  final case class Subscription(
      source: TopicSource,
      groupId: String,
      transform: DataFrame => DataFrame,
      process: (DataFrame, Long) => Unit)

  /** Declared outbound topic. `start` builds the publishing streaming
    * query (typically a [[TopicSource]] load → TopicSource.encodeJson →
    * a [[Delivery]] drain into TopicSink.writeOrdered); whether it starts at all is
    * gated by [[graft.model.ProducerConfig.role]], mirroring the
    * reference's role-filtered producer placement (Producer.scala:54-59,
    * KinesisConfig.scala:85): a producer with a role runs only on engine
    * instances carrying that role, a roleless producer runs everywhere. */
  final case class Publication(
      topicId: String,
      producer: graft.model.ProducerConfig = graft.model.ProducerConfig(),
      start: () => StreamingQuery)

  /** Registry of declared subscriptions + publications; `startAll` /
    * `startProducers` mirror the eager registration walk of the
    * reference. `nodeRoles` is this engine instance's role set (the
    * reference reads it from the cluster node's configuration). */
  final class TopicRegistry(spark: SparkSession, checkpointRoot: String,
                            nodeRoles: Set[String] = Set.empty) {
    private val subs = TrieMap.empty[String, Subscription]
    private val pubs = TrieMap.empty[String, Publication]
    private val running = TrieMap.empty[String, StreamingQuery]

    def register(sub: Subscription): Unit =
      subs.put(s"${sub.source.topicId}/${sub.groupId}", sub)

    def register(pub: Publication): Unit =
      pubs.put(pub.topicId, pub)

    /** True iff a producer with this config belongs on this instance. */
    def producerRunsHere(producer: graft.model.ProducerConfig): Boolean =
      producer.role.forall(nodeRoles.contains)

    def startAll(): Seq[StreamingQuery] =
      subs.toSeq.sortBy(_._1).map { case (key, sub) =>
        val q = Delivery.atLeastOnce(
          sub.transform(sub.source.load(spark)), sub.groupId, checkpointRoot)(sub.process)
        running.put(key, q)
        q
      }

    /** Start role-eligible publications (reference: producers are only
      * placed on nodes whose role matches). Returns the started queries;
      * role-ineligible publications are silently skipped, like the
      * reference's descriptor walk. */
    def startProducers(): Seq[StreamingQuery] =
      pubs.toSeq.sortBy(_._1).collect {
        case (key, pub) if producerRunsHere(pub.producer) =>
          val q = pub.start()
          running.put(s"pub/$key", q)
          q
      }

    def stopAll(): Unit = { running.values.foreach(_.stop()); running.clear() }
    def queries: Map[String, StreamingQuery] = running.toMap
  }
}
