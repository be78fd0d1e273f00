package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation strategy for the iterative / multi-stage dedup
  * operators ([[Dedup.connectedComponents]]'s label-propagation rounds,
  * [[Dedup]]'s `materializeAndRelease`, [[Similarity.lshCosinePairs]]).
  *
  * Two modes:
  *
  *  - '''local''' (default): `localCheckpoint()` — blocks live in
  *    executor storage. Fast (no stable-storage write), the right
  *    choice for single-node / local[] runs and short jobs. NOT
  *    fault-tolerant: the truncated lineage cannot be replayed, so on
  *    a cluster one lost executor kills the job.
  *  - '''reliable''': `checkpoint()` into the SparkContext checkpoint
  *    directory (HDFS/S3/DBFS). Each truncation pays one write to
  *    stable storage, and the job survives executor loss — the mode a
  *    100 TB multi-hour dedup/CC run should use. Enable with
  *    [[Checkpointing.enableReliable]] (sets the checkpoint dir and
  *    flips the session conf flag), or set the conf key directly if
  *    the checkpoint dir is already configured.
  *
  * The switch is a session conf rather than a per-call parameter so
  * the whole operator surface (catalog queries included) inherits the
  * deployment's durability choice without API churn.
  */
object Checkpointing {

  /** Session-conf flag: "true" → reliable `checkpoint()`; anything
    * else → `localCheckpoint()`. */
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Switch the session to reliable checkpointing into `dir` (must be
    * on storage that survives executor loss — HDFS/S3 on a cluster). */
  def enableReliable(spark: SparkSession, dir: String): Unit = {
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(ReliableKey, "true")
  }

  /** Back to executor-local (non-fault-tolerant) truncation. */
  def disableReliable(spark: SparkSession): Unit =
    spark.conf.set(ReliableKey, "false")

  def isReliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableKey).contains("true")

  /** Eagerly materialize `df` and truncate its lineage by the
    * configured strategy. The checkpoint leaf never keeps the origin
    * plan's carried statistics: local-mode leaves carry statistics
    * MEASURED from the materialized blocks
    * ([[org.apache.spark.sql.GraftSqlShim.withMeasuredStats]],
    * round 16): the planner's broadcast/SHJ decisions for every
    * consumer of a truncated frame are made from the frame's TRUE
    * byte size instead of the origin plan's estimate (which both
    * compounds across iterative rounds — the Louvain planning freeze —
    * and mis-sizes post-filter/post-distinct frames badly in either
    * direction). Scale-adaptive by construction: the same loop
    * broadcasts its node-sized frontier at local scale and keeps the
    * shuffle when the measured size passes the threshold. Reliable
    * checkpoint files register no blocks, so reliable-mode leaves have
    * their carried stats stripped
    * ([[org.apache.spark.sql.GraftSqlShim.stripCarriedStats]]): the
    * default size estimate keeps loop joins on shuffles, and nothing
    * compounds across rounds. */
  def truncate(df: DataFrame): DataFrame =
    if (isReliable(df.sparkSession))
      org.apache.spark.sql.GraftSqlShim.stripCarriedStats(df.checkpoint())
    else org.apache.spark.sql.GraftSqlShim.withMeasuredStats(df.localCheckpoint())

  /** [[truncate]], but local blocks are stored SERIALIZED
    * (MEMORY_AND_DISK_SER, where [[truncate]] keeps Spark's
    * `localCheckpoint()` default MEMORY_AND_DISK) — for corpus-sized
    * iterative state where deserialized row objects would dominate
    * the heap: serialized blocks cut the footprint ~3-4× (UnsafeRow
    * bytes, no per-row object headers) at a small decode cost per
    * re-read. Reliable mode is unaffected (a
    * `checkpoint()` is already an on-disk byte image). Leaf stats are
    * measured or stripped, as in [[truncate]] (serialized levels
    * measure the UnsafeRow byte image — the closest proxy to
    * shuffle/broadcast cost). */
  def truncateSer(df: DataFrame): DataFrame =
    if (isReliable(df.sparkSession))
      org.apache.spark.sql.GraftSqlShim.stripCarriedStats(df.checkpoint())
    else org.apache.spark.sql.GraftSqlShim.withMeasuredStats(
      df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** Delete the stable-storage files behind a frame a previous
    * [[truncate]] produced, once a successor has superseded it.
    * Without rotation an iterative operator (CC label propagation:
    * one truncate per round, up to maxIter=50) leaves a full copy of
    * its state table on HDFS/S3 per round —
    * `spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
    * false, so the copies outlive the job. The PeriodicCheckpointer
    * pattern: delete N-1 only after N is materialized.
    *
    * Local mode is a no-op (the ContextCleaner reclaims local blocks
    * when the frame is garbage-collected). Callers must own `df`
    * exclusively — never call this on a frame handed to user code.
    * Enforced guard: only a frame whose analyzed plan ROOT is the
    * checkpointed leaf (i.e. a direct [[truncate]] result) is
    * released — a frame that merely embeds a checkpointed leaf deeper
    * in its plan is a no-op here, so files a derived live frame still
    * reads can never be deleted through this path. */
  def release(df: DataFrame): Unit =
    if (isReliable(df.sparkSession)) {
      org.apache.spark.sql.GraftSqlShim.checkpointFile(df).foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(
          df.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(path, true)
        ()
      }
    }
}

/** Bounded registry for the operator-internal `cache()` calls
  * ([[Similarity]]'s search-time query frames, [[TextOps]]'
  * materialized token frame): a long-lived session that issues many
  * search calls would otherwise accumulate one CacheManager entry per
  * call forever — storage BLOCKS are LRU-evicted under pressure, but
  * the registered entries (and their plan references) are not.
  *
  * `cached(df)` caches the frame and enqueues it; once more than
  * [[CachedFrames.MaxLive]] registered frames are live, the oldest is
  * `unpersist`ed (non-blocking). Unpersisting is always SAFE — a plan
  * still referencing the frame silently recomputes its lineage — so
  * the bound trades recompute-on-reuse for a hard cap on registry
  * growth. Callers wanting an immediate release point (e.g. test
  * harnesses) can call [[CachedFrames.releaseAll]]. */
object CachedFrames {
  /** Live-entry cap: generous enough that a bench pass touching a few
    * search operators never evicts its own working set, small enough
    * that a week-long session stays flat. */
  val MaxLive = 8

  // STRONG references, deliberately: Spark's CacheManager holds the
  // CachedData(plan → InMemoryRelation) independently of the Dataset
  // object, so a weakly-held frame that gets GC'd would leave its
  // cache entry alive AND unreachable to unpersist — the exact leak
  // this registry exists to bound (round-9 review). Pinning at most
  // MaxLive Dataset handles is the cost of being able to evict.
  private val live = new java.util.ArrayDeque[DataFrame]()

  def cached(df: DataFrame): DataFrame = synchronized {
    // Spark's CacheManager dedups entries by (canonicalized) logical
    // plan, so registering the same plan twice would yield two
    // registry handles over ONE cache entry — evicting the older
    // handle would unpersist the shared entry and silently un-cache
    // the newer registration. Dedup here the same way the
    // CacheManager does (sameResult over the analyzed plan): a repeat
    // registration refreshes the existing handle's eviction position
    // instead of enqueueing a second handle.
    val plan = df.queryExecution.analyzed
    var hit: DataFrame = null
    val it = live.iterator()
    while (hit == null && it.hasNext) {
      val e = it.next()
      if (e.queryExecution.analyzed.sameResult(plan)) hit = e
    }
    if (hit != null) {
      live.remove(hit) // identity equality — Dataset doesn't override equals
      live.addLast(hit)
      hit
    } else {
      val c = df.cache()
      live.addLast(c)
      while (live.size > MaxLive) {
        live.removeFirst().unpersist(blocking = false)
      }
      c
    }
  }

  def releaseAll(): Unit = synchronized {
    while (!live.isEmpty) live.removeFirst().unpersist(blocking = false)
  }

  /** Registered-but-not-yet-evicted count (test hook). */
  def liveCount: Int = synchronized(live.size)
}
