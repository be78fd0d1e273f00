package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.ops.{Checkpointing, Dedup}
import graft.testkit.TempDirs.withTempDir

/** The reliable-checkpoint mode: same results as the default
  * executor-local mode, and the truncated lineage demonstrably lands in
  * the stable checkpoint directory (the property that lets a cluster
  * run survive executor loss — local checkpoint blocks die with their
  * executor and have no replay path). */
class CheckpointingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again!"),
    (3L, "completely different content about spark shuffle partitioning"),
    (4L, "completely different content about spark shuffle partitioning."),
    (5L, "an unrelated singleton document with its own words entirely")
  ).toDF("doc_id", "text")

  private def pairs = Seq((1L, 2L), (2L, 6L), (3L, 4L)).toDF("id_a", "id_b")

  test("reliable checkpoint mode matches local mode and writes to the checkpoint dir") {
    withTempDir("graft-ckpt") { dir =>

      def run(): (Set[(Long, Long, Double)], Set[(Long, Long)]) = {
        val mined = Dedup.minhashJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.5)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
          .as[(Long, Long, Double)].collect().toSet
        val cc = Dedup.connectedComponents(pairs)
          .as[(Long, Long)].collect().toSet
        (mined, cc)
      }

      val (minedLocal, ccLocal) = run()
      assert(!Checkpointing.isReliable(spark))

      Checkpointing.enableReliable(spark, dir)
      try {
        assert(Checkpointing.isReliable(spark))
        val (minedReliable, ccReliable) = run()
        assert(minedReliable == minedLocal)
        assert(ccReliable == ccLocal)
        assert(ccReliable == Set((1L, 1L), (2L, 1L), (6L, 1L), (3L, 3L), (4L, 3L)))
        // the reliable path must actually have written RDD checkpoint
        // data to the stable dir (this is what survives executor loss)
        val wrote = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()
        assert(wrote > 0, s"expected checkpoint files under $dir")
        // ... and rotated the superseded rounds: CC truncates once per
        // propagation round, but each round's release() deletes the
        // previous round's files, so only a bounded number of rdd-*
        // checkpoint dirs may remain (not one per round)
        import scala.jdk.CollectionConverters._
        val rddDirs = Files.walk(Paths.get(dir)).iterator().asScala
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
          .size
        assert(rddDirs <= 4,
          s"superseded CC round checkpoints must be rotated away, found $rddDirs rdd-* dirs under $dir")
      } finally Checkpointing.disableReliable(spark)

      // back on the default path: still correct, mode flag honored
      assert(!Checkpointing.isReliable(spark))
      val (minedAgain, _) = run()
      assert(minedAgain == minedLocal)
    }
  }

  test("local truncation carries MEASURED leaf statistics that drive broadcast planning") {
    // round-16: the checkpoint leaf must report its true materialized
    // byte size (not the origin plan's estimate, not the huge default
    // a stripped leaf falls back to) so the planner can broadcast the
    // node-sized per-round frames of the iterative graph loops
    val small = Checkpointing.truncate(spark.range(0, 100).toDF("node"))
    val sz = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < 10L * 1024 * 1024,
      s"measured leaf size expected small and positive, got $sz")
    val ser = Checkpointing.truncateSer(
      spark.range(0, 100).select(col("id").as("a"), (col("id") + 1).as("b")))
    val szSer = ser.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(szSer > 0 && szSer < 10L * 1024 * 1024,
      s"measured serialized leaf size expected small and positive, got $szSer")
    // the loop-join shape (k-core peel / Louvain round): big side
    // semi-joined against a small truncated frame must plan a
    // broadcast of the small side, with no exchange of the big side
    val big = spark.range(0, 100000).toDF("node")
    val plan = big.join(small, Seq("node"), "left_semi")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a statically-planned broadcast semi join, got:\n$plan")
    // round-to-round reset (the Louvain planning-freeze guard): a
    // frame DERIVED from many references of a measured leaf, once
    // truncated itself, reports its own measured size — a bounded
    // constant, not a compounding estimate product
    val derived = Checkpointing.truncate(
      small.join(small.withColumnRenamed("node", "n2"),
        col("node") === col("n2")))
    val szD = derived.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(szD > 0 && szD < 10L * 1024 * 1024,
      s"re-truncated frame must carry its own measured size, got $szD")
  }

  test("a checkpoint leaf's size stays bounded over 10 truncated self-join rounds, local and reliable") {
    // Catalyst estimates an inner join as the product of its children's
    // sizes, so a leaf carrying its origin plan's estimate squares every
    // round (the Louvain planning freeze). Measured or stripped leaves
    // reset it per round; a stripped leaf reports the default estimate
    // (spark.sql.defaultSizeInBytes, Long.MaxValue).
    val bound = BigInt(Long.MaxValue)
    def rounds(mode: String): Unit = {
      var cur = Checkpointing.truncate(spark.range(0, 100).toDF("node"))
      (1 to 10).foreach { r =>
        cur = Checkpointing.truncate(
          cur.join(cur.withColumnRenamed("node", "n2"), col("node") === col("n2"))
            .select("node"))
        val sz = cur.queryExecution.optimizedPlan.stats.sizeInBytes
        assert(sz > 0 && sz <= bound, s"$mode round $r: leaf sizeInBytes $sz exceeds $bound")
      }
      assert(cur.count() == 100)
    }
    rounds("local")
    withTempDir("graft-ckpt-stats") { dir =>
      Checkpointing.enableReliable(spark, dir)
      try rounds("reliable") finally Checkpointing.disableReliable(spark)
    }
  }

  test("CachedFrames dedups registrations by analyzed plan") {
    import graft.ops.CachedFrames
    CachedFrames.releaseAll()
    try {
      val a = docs.select(col("doc_id"), length(col("text")).as("len"))
      val c1 = CachedFrames.cached(a)
      // the same logical plan via a DIFFERENT Dataset object — the
      // CacheManager would serve both from one entry, so the registry
      // must hold one handle, not two
      val c2 = CachedFrames.cached(
        docs.select(col("doc_id"), length(col("text")).as("len")))
      assert(CachedFrames.liveCount == 1,
        "re-registering an identical plan must refresh, not enqueue")
      assert(c2 eq c1, "the registered handle is returned on a repeat")

      // refresh moves the entry to the BACK of the eviction order:
      // register b, re-register a, then fill to the cap — b must be
      // the first evicted (uncached), a must survive
      val b = docs.select(col("doc_id"), upper(col("text")).as("u"))
      val cb = CachedFrames.cached(b)
      CachedFrames.cached(a) // refresh a behind b
      var filler = 0
      while (CachedFrames.liveCount < CachedFrames.MaxLive) {
        filler += 1
        CachedFrames.cached(docs.select(col("doc_id"),
          (col("doc_id") + filler).as(s"f$filler")))
      }
      CachedFrames.cached(docs.select(col("doc_id"),
        (col("doc_id") * 1000).as("overflow"))) // one past the cap
      assert(cb.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the stale (unrefreshed) entry must be the one evicted")
      assert(c1.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the refreshed entry must survive the eviction")
    } finally CachedFrames.releaseAll()
  }
}
