package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Graph, GraphState, Incremental, Tables}
import graft.ops.GraphState.{Anf, Communities, KCore, Triangles}

/** [[graft.ops.GraphState]] — graph views maintained as crash-safe
  * (edges, view) state-table pairs (round-13 verdict's top ask: an
  * advance must consume STATE, never re-canonicalize raw history). */
class GraphStateSpec extends SparkSpec {
  import spark.implicits._

  private def scrub(name: String): Unit = GraphState.drop(spark, name, Triangles)

  private def stats(name: String): DataFrame =
    GraphState.table(spark, name, Triangles)

  private def pairsOf(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    Graph.coOrderEdges(Tables.table(spark, sf, "lineitem")
      .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey"))))

  private def sortedStats(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("node", "degree", "n_triangles", "clustering")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq

  test("advance folds waves into the pair; maintained stats equal the full re-count; epochs track; no danglers") {
    val name = "gstate_adv"
    scrub(name)
    GraphState.init(spark, name, Triangles,
      pairsOf(_ => lit(false)), "src", "dst")
    assert(GraphState.epochOf(spark, s"${name}_edges") == 0L)
    for (w <- 0 to 2)
      GraphState.advance(spark, name, Triangles,
        pairsOf(ok => ok % 3 === w), "src", "dst")
    val got = sortedStats(stats(name))
    val want = sortedStats(
      Graph.triangleStats(pairsOf(_ => lit(true)), "src", "dst"))
    assert(got == want, "maintained pair must equal the from-scratch count")
    assert(GraphState.epochOf(spark, s"${name}_edges") == 3L)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 3L)
    for (t <- Seq("_edges__next", "_stats__next", "_edges__old", "_stats__old"))
      assert(!spark.catalog.tableExists(name + t), s"dangler $t")
    assert(GraphState.recover(spark, name, Triangles) == "clean")
    // re-applying an already-folded delta is a no-op (crash-replay safety)
    GraphState.advance(spark, name, Triangles,
      pairsOf(ok => ok % 3 === 1), "src", "dst")
    assert(sortedStats(stats(name)) == want)
    scrub(name)
  }

  test("retract removes a slice; pair equals the full re-count on the remainder; retract∘advance is identity") {
    val name = "gstate_ret"
    scrub(name)
    GraphState.init(spark, name, Triangles, pairsOf(_ => lit(true)),
      "src", "dst")
    val before = sortedStats(stats(name))
    val slice = pairsOf(ok => ok % 7 === 0)
    GraphState.retract(spark, name, Triangles, slice, "src", "dst")
    // the retracted pair equals a from-scratch count over the remaining
    // edges (edges ground truth drives the check)
    val want = sortedStats(Graph.triangleStats(
      GraphState.edges(spark, name), "a", "b"))
    assert(sortedStats(stats(name)) == want)
    // identity: advancing the same slice back restores the original
    GraphState.advance(spark, name, Triangles, slice, "src", "dst")
    assert(sortedStats(stats(name)) == before)
    assert(GraphState.epochOf(spark, s"${name}_stats") == 2L)
    scrub(name)
  }

  test("advance reads ONLY the state pair + the delta — never raw history (every file scan audited)") {
    val name = "gstate_plan"
    scrub(name)
    // raw history staged as its own parquet (the thing the advance
    // must NOT touch)
    val hist = java.nio.file.Files.createTempDirectory("gstate-hist").toString
    pairsOf(ok => ok % 3 =!= 0).write.mode("overwrite").parquet(hist)
    val deltaDir = java.nio.file.Files.createTempDirectory("gstate-delta").toString
    pairsOf(ok => ok % 3 === 0).write.mode("overwrite").parquet(deltaDir)
    GraphState.init(spark, name, Triangles,
      spark.read.parquet(hist), "src", "dst")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case s: FileSourceScanExec =>
            seen.add(s.relation.location.rootPaths.mkString(","))
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      GraphState.advance(spark, name, Triangles,
        spark.read.parquet(deltaDir), "src", "dst")
      // listener delivery is async — wait for the queue to go quiet
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 40) {
        last = seen.size; spins += 1; Thread.sleep(250)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
    val paths = seen.toArray(Array.empty[String]).toSeq.distinct
    assert(paths.nonEmpty, "the audit must observe the advance's scans")
    val allowed = Seq(s"${name}_edges", s"${name}_stats", deltaDir)
    paths.foreach { p =>
      assert(allowed.exists(p.contains),
        s"advance scanned $p — outside state pair + delta")
      assert(!p.contains(hist), s"advance re-read raw history: $p")
    }
    assert(paths.exists(_.contains(s"${name}_edges")), "state edges scan missing")
    graft.ops.LocalFiles.deleteRecursively(hist)
    graft.ops.LocalFiles.deleteRecursively(deltaDir)
    scrub(name)
  }

  test("k-core pair: waves fold to the union's fixed point; advance consumes canonical state; recovery rebuilds under the stored k") {
    val name = "gstate_kc"
    GraphState.init(spark, name, KCore(4), pairsOf(_ => lit(false)),
      "src", "dst")
    for (w <- 0 to 2)
      GraphState.advance(spark, name, KCore(4),
        pairsOf(ok => ok % 3 === w), "src", "dst")
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = m(GraphState.table(spark, name, KCore(4)))
    val want = m(Graph.kCoreFixedPoint(pairsOf(_ => lit(true)), "src",
      "dst", k = 4))
    assert(got == want, "maintained core must equal the union's fixed point")
    assert(got.nonEmpty && got.values.forall(_ >= 4L))
    assert(GraphState.epochOf(spark, s"${name}_core") == 3L)
    // stats-lag recovery rebuilds the survivor set from ground truth
    // under the k the advances stored on the table, not the k it is
    // handed (a 100-core of this graph is empty)
    spark.sql(s"ALTER TABLE ${name}_core SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recover(spark, name, KCore(100)) == "rebuilt-core")
    assert(m(GraphState.table(spark, name, KCore(4))) == want)
    assert(GraphState.recover(spark, name, KCore(4)) == "clean")
    GraphState.drop(spark, name, KCore(4))
  }

  test("k-core pair retraction: interleaved advance/retract waves equal the net fixed point; retract∘advance is identity; recovery rebuilds") {
    val name = "gstate_kcr"
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def core: DataFrame = GraphState.table(spark, name, KCore(4))
    GraphState.init(spark, name, KCore(4), pairsOf(ok => ok % 3 === 0),
      "src", "dst")
    val base = m(core)
    // advance a wave, retract a slice, advance another wave — the
    // maintained survivor set must track the NET edge set's fixed
    // point through every step
    GraphState.advance(spark, name, KCore(4),
      pairsOf(ok => ok % 3 === 1), "src", "dst")
    val afterAdv = m(core)
    val slice = pairsOf(ok => ok % 6 === 1) // ⊆ the %3==1 wave
    GraphState.retract(spark, name, KCore(4), slice, "src", "dst")
    // ground truth drives the check: maintained core == the fixed
    // point re-peeled from the edges table
    assert(m(core) ==
      m(Graph.kCoreFixedPoint(GraphState.edges(spark, name), "a", "b", k = 4)))
    // identity: advancing the slice back restores the post-advance core
    GraphState.advance(spark, name, KCore(4), slice, "src", "dst")
    assert(m(core) == afterAdv,
      "retract∘advance must restore the maintained core")
    assert(GraphState.epochOf(spark, s"${name}_core") == 3L)
    // retract the whole %3==1 wave (SET semantics: pairs the %3==0
    // wave also delivered leave too — an edge has no multiplicity) —
    // ground truth still drives the equality
    GraphState.retract(spark, name, KCore(4),
      pairsOf(ok => ok % 3 === 1), "src", "dst")
    val afterRet = m(core)
    assert(afterRet ==
      m(Graph.kCoreFixedPoint(GraphState.edges(spark, name), "a", "b", k = 4)))
    // crash-window recovery after a retraction: core lags ground truth
    // → rebuilt from the edges table under the stored k
    spark.sql(s"ALTER TABLE ${name}_core SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recover(spark, name, KCore(4)) == "rebuilt-core")
    assert(m(core) == afterRet)
    GraphState.drop(spark, name, KCore(4))
  }

  test("community pair: maintained assignment equals the replayed warm chain") {
    val name = "gstate_comm"
    def m(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraphState.init(spark, name, Communities(3), pairsOf(_ => lit(false)),
      "src", "dst")
    for (w <- 0 to 2)
      GraphState.advance(spark, name, Communities(3),
        pairsOf(ok => ok % 3 === w), "src", "dst")
    val got = m(GraphState.table(spark, name, Communities(3)))
    // the maintained assignment must equal the SAME warm chain replayed
    // through the public surface over the cumulative edge sets — the
    // q238 oracle's exact process
    def symCum(w: Int): DataFrame = {
      val p = pairsOf(ok => ok % 3 <= w).distinct()
      p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
    }
    val c1 = Graph.louvainStable(symCum(0), "src", "dst", None, 3)._1
    val c2 = Graph.louvainStable(symCum(1), "src", "dst", Some(c1), 3)._1
    val c3 = Graph.louvainStable(symCum(2), "src", "dst", Some(c2), 3)._1
    assert(got == m(c3), "maintained ≡ replayed warm chain")
    assert(GraphState.epochOf(spark, s"${name}_comm") == 3L)
    GraphState.drop(spark, name, Communities(3))
  }

  test("ANF pair: wave-advanced register ladder is register-bit-identical to the from-scratch run; estimates match; recovery rebuilds") {
    val name = "gstate_anf"
    def regs: DataFrame = GraphState.table(spark, name, Anf(3))
    GraphState.init(spark, name, Anf(3), pairsOf(_ => lit(false)),
      "src", "dst")
    for (w <- 0 to 2)
      GraphState.advance(spark, name, Anf(3),
        pairsOf(ok => ok % 3 === w), "src", "dst")
    // packed layout (round-15): one 256-byte register array per
    // (level, node) row — compare as hex so byte arrays get value
    // equality
    def regSet(df: DataFrame): Set[(Int, Long, String)] =
      df.select(col("t"), col("node"), hex(col("regs"))).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .toSet
    // register-bit-identity with the from-scratch ladder over the
    // union — the induction the q243 oracle rests on
    val fromScratch = Graph.anfRegisters(
      GraphState.edges(spark, name), t = 3)
    assert(regSet(regs) == regSet(fromScratch),
      "maintained ladder must equal the from-scratch registers")
    // estimates read view equals neighborhoodFunction's output
    def estMap(df: DataFrame): Map[(Long, Int), Double] =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = estMap(Graph.anfEstimates(regs))
    val want = estMap(Graph.neighborhoodFunction(
      pairsOf(_ => lit(true)), "src", "dst", iters = 3))
    assert(got == want, "maintained estimates must equal the direct run")
    assert(GraphState.epochOf(spark, s"${name}_anf") == 3L)
    // re-applying an already-folded wave is a no-op
    GraphState.advance(spark, name, Anf(3),
      pairsOf(ok => ok % 3 === 1), "src", "dst")
    assert(estMap(Graph.anfEstimates(regs)) == want)
    // recovery rebuild from ground truth is register-bit-identical,
    // under the depth the advances stored, not the one it is handed
    spark.sql(s"ALTER TABLE ${name}_anf SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recover(spark, name, Anf(1)) == "rebuilt-anf")
    assert(regSet(regs) == regSet(fromScratch))
    assert(GraphState.recover(spark, name, Anf(3)) == "clean")
    GraphState.drop(spark, name, Anf(3))
  }

  test("community advance reads ONLY the state pair + the delta — never raw history (file scans audited)") {
    val name = "gstate_commplan"
    val hist = java.nio.file.Files.createTempDirectory("gcomm-hist").toString
    pairsOf(ok => ok % 3 =!= 0).write.mode("overwrite").parquet(hist)
    val deltaDir = java.nio.file.Files.createTempDirectory("gcomm-delta").toString
    pairsOf(ok => ok % 3 === 0).write.mode("overwrite").parquet(deltaDir)
    GraphState.init(spark, name, Communities(2),
      spark.read.parquet(hist), "src", "dst")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.foreach {
          case s: FileSourceScanExec =>
            seen.add(s.relation.location.rootPaths.mkString(","))
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      GraphState.advance(spark, name, Communities(2),
        spark.read.parquet(deltaDir), "src", "dst")
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 40) {
        last = seen.size; spins += 1; Thread.sleep(250)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
    val paths = seen.toArray(Array.empty[String]).toSeq.distinct
    assert(paths.nonEmpty, "the audit must observe the advance's scans")
    val allowed = Seq(s"${name}_edges", s"${name}_comm", deltaDir)
    paths.foreach { p =>
      assert(allowed.exists(p.contains),
        s"advance scanned $p — outside state pair + delta")
      assert(!p.contains(hist), s"advance re-read raw history: $p")
    }
    assert(paths.exists(_.contains(s"${name}_edges")), "state edges scan missing")
    assert(paths.exists(_.contains(s"${name}_comm")), "state comm (seed) scan missing")
    graft.ops.LocalFiles.deleteRecursively(hist)
    graft.ops.LocalFiles.deleteRecursively(deltaDir)
    GraphState.drop(spark, name, Communities(2))
  }

  test("triangle retraction that drains a node to degree 0 drops its row — maintained stats stay bit-identical to the rebuild (ADVICE r14)") {
    val name = "gstate_deg0"
    scrub(name)
    // triangle {1,2,3} with an appendix edge (3,4): retracting (3,4)
    // leaves node 4 at degree 0 — the maintained path must DROP its
    // row exactly as a from-scratch recount over the edges table would
    GraphState.init(spark, name, Triangles,
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst"),
      "src", "dst")
    assert(stats(name).count() == 4L)
    GraphState.retract(spark, name, Triangles,
      Seq((3L, 4L)).toDF("src", "dst"), "src", "dst")
    val maintained = sortedStats(stats(name))
    assert(!maintained.exists(_._1 == 4L), "degree-0 node must leave")
    assert(maintained.map(_._1) == Seq(1L, 2L, 3L))
    // rebuild == maintained: force the recovery recount from ground
    // truth and compare bit-for-bit
    spark.sql(s"ALTER TABLE ${name}_stats SET TBLPROPERTIES('graft.epoch'='0')")
    assert(GraphState.recover(spark, name, Triangles) == "rebuilt-stats")
    assert(sortedStats(stats(name)) == maintained,
      "crash-rebuild must equal the uncrashed maintained stats")
    scrub(name)
  }

  test("recovery resolves every crash window of every view: promote the staged view, rebuild a lost one under the stored parameter, drop danglers") {
    // the view rows in one comparable form (binary registers as base64)
    def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted
    // (table suffix, view, the same view under another parameter —
    // which recovery must ignore for the one stored on the table —
    // and that stored parameter's property, as a staging carries it)
    val views = Seq(
      ("stats", Triangles, Triangles, None),
      ("core", KCore(4), KCore(100), Some("graft.kcore.k" -> "4")),
      ("anf", Anf(3), Anf(1), Some("graft.anf.t" -> "3")),
      ("comm", Communities(3), Communities(1), Some("graft.comm.iters" -> "3")))
    for ((suffix, view, otherParam, param) <- views) {
      val name = s"gstate_rec_$suffix"
      val twin = s"${name}_twin" // the same changes, never crashed
      val vT = s"${name}_$suffix"
      for (n <- Seq(name, twin))
        GraphState.init(spark, n, view, pairsOf(ok => ok % 3 =!= 0), "src", "dst")
      def live(n: String): Seq[String] = rows(GraphState.table(spark, n, view))
      // an advance interrupted BETWEEN the two swaps: both stagings
      // written and stamped, only the edges swapped (exactly what the
      // protocol does first); `lose` drops the staged view as well
      def crash(delta: DataFrame, epoch: Long, lose: Boolean): Unit = {
        val (newE, newV) = GraphState.plan(spark, name, view, delta, "src", "dst")
        newV.write.saveAsTable(s"${vT}__next")
        val props = (("graft.epoch" -> epoch.toString) +: param.toSeq)
          .map { case (k, v) => s"'$k'='$v'" }.mkString(",")
        spark.sql(s"ALTER TABLE ${vT}__next SET TBLPROPERTIES($props)")
        newE.write.saveAsTable(s"${name}_edges__next")
        spark.sql(s"ALTER TABLE ${name}_edges__next SET TBLPROPERTIES('graft.epoch'='$epoch')")
        Incremental.swapStaged(spark, s"${name}_edges")
        if (lose) spark.sql(s"DROP TABLE ${vT}__next")
        GraphState.advance(spark, twin, view, delta, "src", "dst")
      }

      // window A: the staged view is complete → promoted, no recount
      crash(pairsOf(ok => ok % 7 === 3), 1L, lose = false)
      assert(GraphState.recover(spark, name, otherParam) == s"promoted-staged-$suffix")
      assert(live(name) == live(twin), s"$suffix: promoted ≠ uncrashed")
      assert(GraphState.epochOf(spark, vT) == 1L)

      // window B: the staged view is lost → rebuilt from what survives
      // (the new edges; for communities also the previous assignment)
      // under the STORED parameter, equal to the uncrashed advance
      crash(pairsOf(ok => ok % 7 === 5), 2L, lose = true)
      assert(GraphState.recover(spark, name, otherParam) == s"rebuilt-$suffix")
      assert(live(name) == live(twin), s"$suffix: rebuilt ≠ uncrashed")
      assert(GraphState.epochOf(spark, vT) == 2L)
      val stored = spark.sql(s"SHOW TBLPROPERTIES $vT").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      param.foreach { case (k, v) => assert(stored.get(k).contains(v), s"$suffix: $k") }

      // window C: crash during staging — a stale dangler drops, the
      // live pair stays intact (the caller re-applies the change)
      Seq((1L, 2L)).toDF("a", "b").write.saveAsTable(s"${vT}__next")
      assert(GraphState.recover(spark, name, view) == "resolved")
      assert(!spark.catalog.tableExists(s"${vT}__next"))
      assert(live(name) == live(twin))
      assert(GraphState.recover(spark, name, view) == "clean")
      for (n <- Seq(name, twin)) GraphState.drop(spark, n, view)
    }
  }
}
