package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** [[graft.ops.Graph.pageRank]] — fixed-iteration power method. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap

  /** Driver-side reference: same leaky-dangling definition, plain
    * double arithmetic (tolerance absorbs the DECIMAL(38,12) term
    * rounding the distributed sum applies). */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        damping: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size
    var r = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v =>
        v -> ((1.0 - damping) / n + damping * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("directed 3-cycle stays uniform at every iteration") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    for (t <- Seq(1, 4)) {
      val got = ranks(edges, t)
      // the 1e-12 contribution quantization compounds ~1 ulp/round
      got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-10, got))
    }
  }

  test("undirected star matches the driver-side reference") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = star ++ star.map(_.swap)
    val got = ranks(edges, 3)
    val want = reference(edges, 3)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"$k: $v vs ${want(k)}")
    }
    // symmetrized graph conserves mass (no dangling leak)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(0L) > got(1L), "center must outrank leaves")
  }

  test("dangling node receives but never redistributes (leaky variant)") {
    val got = ranks(Seq((1L, 2L)), 1)
    // n=2, r0=0.5 each; node 1 gets only teleport, node 2 gets 1's mass
    assert(math.abs(got(1L) - 0.075) < 1e-12)
    assert(math.abs(got(2L) - (0.075 + 0.85 * 0.5)) < 1e-12)
  }

  test("skewed graph: high-degree hub outranks, reference agrees") {
    // hub 0 linked by 5 spokes, plus a 2-chain hanging off spoke 1
    val base = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 1L), (7L, 6L))
    val edges = base ++ base.map(_.swap)
    val got = ranks(edges, 4)
    val want = reference(edges, 4)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"$k: $v vs ${want(k)}")
    }
    assert(got(0L) == got.values.max)
  }

  test("personalized PageRank: mass stays near seeds, reference agrees") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two 3-cycles bridged by nothing: seed in component A only
    val a = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val b = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val edges = a ++ b
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        "src", "dst", Seq(1L, 999L).toDF("node"), "node", iters = 4)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // seed 999 is not in the graph and must be ignored (|S| = 1)
    // component B is unreachable from the seed -> exact zero
    Seq(10L, 11L, 12L).foreach(n => assert(got(n) == 0.0, s"$n: ${got(n)}"))
    // component A holds all the mass; total = 1 (cycle conserves)
    assert(math.abs(got(1L) + got(2L) + got(3L) - 1.0) < 1e-9)
    // driver-side reference with the seeded teleport
    def ref(iters: Int): Map[Long, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
      var r = nodes.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap
      for (_ <- 1 to iters) {
        val in = edges.groupBy(_._2).view.mapValues(
          _.map { case (s0, _) => r(s0) / out(s0) }.sum).toMap
        r = nodes.map(v => v ->
          ((if (v == 1L) 0.15 else 0.0) + 0.85 * in.getOrElse(v, 0.0))).toMap
      }
      r
    }
    val want = ref(4)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"$k: $v vs ${want(k)}")
    }
  }

  test("labelPropagation: two triangles separate; no-in-edge node keeps its label") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two triangles bridged by one edge (symmetrized), plus a
    // directed-only stub 50→51 (50 has no in-edges → keeps label 50)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap) :+ (50L, 51L)).toDF("src", "dst")
    val got = graft.ops.Graph.labelPropagation(edges, "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-simulated synchronous rounds with (count desc, label asc):
    // r1: 1→2 2→1 3→1 10→3 11→10 12→10; r2: 1→1 2→1 3→1 10→10 11→3
    // 12→3; r3: triangle A all 1, triangle B all 3
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 50L -> 50L, 51L -> 50L))
  }

  test("louvain: planted communities recovered; deterministic under repartitioning; modularity improves") {
    import org.apache.spark.sql.functions.col
    // two K5 cliques bridged by ONE edge — the canonical planted
    // partition; modularity-optimal split is the two cliques
    val cliqueA = for (i <- 0L to 4L; j <- 0L to 4L if i != j) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- 10L to 14L if i != j) yield (i, j)
    val bridge = Seq((4L, 10L), (10L, 4L))
    val edges = (cliqueA ++ cliqueB ++ bridge).toDF("src", "dst")
    val got = Graph.louvain(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val commA = (0L to 4L).map(got).toSet
    val commB = (10L to 14L).map(got).toSet
    assert(commA.size == 1, s"clique A must land in one community: $commA")
    assert(commB.size == 1, s"clique B must land in one community: $commB")
    assert(commA != commB, "the two cliques must stay separate communities")

    // determinism: a different input partitioning yields the SAME map
    val again = Graph.louvain(edges.repartition(7), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got, "louvain must be partitioning-independent")

    // modularity(assignment) > modularity(singletons): exact integer
    // comparison — Q·(2m)² = Σ_c (2m·e_in(c) − Σtot(c)²)
    val es = edges.as[(Long, Long)].collect()
    val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val m2 = es.length.toLong
    def q2m2(assign: Map[Long, Long]): BigInt = {
      val comms = assign.values.toSet
      comms.toSeq.map { c =>
        val members = assign.collect { case (n, cc) if cc == c => n }.toSet
        val ein = es.count { case (s, t) => members(s) && members(t) }.toLong
        val stot = members.toSeq.map(deg).sum
        BigInt(m2) * ein - BigInt(stot) * stot
      }.sum
    }
    val singleton = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> n).toMap
    assert(q2m2(got) > q2m2(singleton),
      "final assignment must beat singleton modularity")
  }

  test("louvainWarm: converged seed is a fixed point; untouched communities pass through a delta; stability stop is invisible; warm saves rounds") {
    import org.apache.spark.sql.functions.col
    // planted fixture: two K5 cliques bridged by one edge
    val cliqueA = for (i <- 0L to 4L; j <- 0L to 4L if i != j) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- 10L to 14L if i != j) yield (i, j)
    val bridge = Seq((4L, 10L), (10L, 4L))
    val base = (cliqueA ++ cliqueB ++ bridge).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the stability stop must be INVISIBLE to a fixed-depth run — the
    // oracle-replay invariant: a stopped run equals the full unroll
    val (stable, rounds) = Graph.louvainStable(base, "src", "dst", None, 10)
    assert(m(stable) == m(Graph.louvain(base, "src", "dst", iters = 10)),
      "stability-stopped run must equal the fixed-depth run")
    assert(rounds < 10, "the clique fixture must stabilize before 10 rounds")

    // a converged assignment is a fixed point of the warm run
    val (again, r2) = Graph.louvainStable(base, "src", "dst", Some(stable), 10)
    assert(m(again) == m(stable), "converged seed must be a fixed point")
    assert(r2 == 2, "a fixed-point seed stops after the two probe rounds")

    // delta: one pendant node (20) attaches to clique B — the hourly-
    // crawl shape the maintained pair serves (delta tiny next to the
    // stabilized structure). Warm rounds seeded from the converged
    // base keep A and B byte-identical, absorb the pendant into B's
    // community, and re-stabilize in strictly fewer rounds than cold
    // must spend re-agglomerating the cliques from singletons.
    val union = (cliqueA ++ cliqueB ++ bridge ++
      Seq((14L, 20L), (20L, 14L))).toDF("src", "dst")
    val (warm, rWarm) = Graph.louvainStable(union, "src", "dst", Some(stable), 12)
    val wm = m(warm)
    val sm = m(stable)
    (0L to 4L).foreach(n => assert(wm(n) == sm(n), s"clique A node $n moved"))
    (10L to 14L).foreach(n => assert(wm(n) == sm(n), s"clique B node $n moved"))
    assert(wm(20L) == wm(14L), "the pendant must join clique B's community")
    val (_, rCold) = Graph.louvainStable(union, "src", "dst", None, 12)
    assert(rWarm < rCold, s"warm ($rWarm) must save rounds vs cold ($rCold)")
  }

  test("triangleStats: K4/path/shared-edge exact; degree-oriented count equals brute force on a random graph") {
    import org.apache.spark.sql.functions.col
    // K4: every node in 3 triangles, clustering 1.0; pendant node 9
    // attached to 0: degree 1, zero triangles, clustering 0
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val g1 = (k4 :+ (0L, 9L)).toDF("src", "dst")
    val got1 = Graph.triangleStats(g1, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got1(1L) == ((3L, 3L, 1.0)) && got1(2L) == ((3L, 3L, 1.0)))
    assert(got1(0L) == ((4L, 3L, 0.5))) // 3 of C(4,2)=6 wedges closed
    assert(got1(9L) == ((1L, 0L, 0.0)))
    // duplicated/reversed/self-loop inputs canonicalize away
    val noisy = (k4 ++ k4.map(_.swap) :+ (2L, 2L) :+ (0L, 9L)).toDF("src", "dst")
    val got1b = Graph.triangleStats(noisy, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got1b === got1.map { case (k, v) => k -> v._2 })
    // differential vs brute force on a seeded random graph WITH a hub
    // (node 1000 connected to everyone — the skew case orientation
    // exists for)
    val rnd = new scala.util.Random(7)
    val rand = (for (_ <- 1 to 300) yield
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      (0L until 40L).map(i => (1000L, i))
    val g2 = rand.toDF("src", "dst")
    val got2 = Graph.triangleStats(g2, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val simple = rand.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = simple.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq
    val brute = nodes.map { v =>
      val nb = adj(v).toSeq
      v -> (for (i <- nb.indices; j <- i + 1 until nb.size
        if adj(nb(i)).contains(nb(j))) yield 1).size.toLong
    }.toMap
    assert(got2 === brute, "degree-oriented count must equal brute force")
  }

  test("louvainWeighted: weight-w edges behave exactly like w parallel unit edges") {
    import org.apache.spark.sql.functions.col
    // two triangles bridged by one edge; intra-triangle edges weight 3
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L))
    val bridge = Seq((3L, 10L))
    val wEdges = (und.map(e => (e._1, e._2, 3L)) ++
      und.map(e => (e._2, e._1, 3L)) ++
      bridge.flatMap(e => Seq((e._1, e._2, 1L), (e._2, e._1, 1L))))
      .toDF("src", "dst", "w")
    val unit = (und.flatMap(e => Seq.fill(3)(Seq(e, e.swap)).flatten) ++
      bridge.flatMap(e => Seq(e, e.swap))).toDF("src", "dst")
    val a = Graph.louvainWeighted(wEdges, "src", "dst", "w", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the unit-edge multigraph through the weighted API with w = 1
    // per parallel row must agree (weights are multiplicities)
    val b = Graph.louvainWeighted(unit.withColumn("w",
        org.apache.spark.sql.functions.lit(1L)), "src", "dst", "w", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "weight-3 edges must equal 3 parallel unit edges")
    assert(Set(1L, 2L, 3L).map(a).size == 1 &&
      Set(10L, 11L, 12L).map(a).size == 1 &&
      a(1L) != a(10L), s"triangles must separate: $a")
  }

  test("louvainMultiLevel: phase 2 merges what single-level moves cannot; levels=1 == louvain") {
    import org.apache.spark.sql.functions.col
    // ring of 12 tiny cliques (K3) joined by single bridges — the
    // canonical phase-2 fixture: local moves find the cliques, and at
    // this size modularity IMPROVES when adjacent cliques merge
    // (pair-merge gain m2·w − stotA·stotB = 96 − 64 > 0; at 8 cliques
    // it is exactly 0, the Q-neutral boundary), a move only the
    // contracted level can make (a whole clique re-homes at once)
    val k = 12
    def cid(c: Int, i: Int): Long = (c * 10 + i).toLong
    val cliques = for {
      c <- 0 until k; i <- 0 until 3; j <- 0 until 3 if i != j
    } yield (cid(c, i), cid(c, j))
    val bridges = (0 until k).flatMap { c =>
      val a = cid(c, 0); val b = cid((c + 1) % k, 1)
      Seq((a, b), (b, a))
    }
    val edges = (cliques ++ bridges).toDF("src", "dst")
    val single = Graph.louvain(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Graph.louvainMultiLevel(edges, "src", "dst",
        itersPerLevel = 4, levels = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact integer modularity comparison (Q·(2m)² units)
    val es = edges.as[(Long, Long)].collect()
    val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val m2 = es.length.toLong
    def q2m2(assign: Map[Long, Long]): BigInt =
      assign.values.toSet.toSeq.map { (c: Long) =>
        val members = assign.collect { case (n, cc) if cc == c => n }.toSet
        val ein = es.count { case (s, t) => members(s) && members(t) }.toLong
        val stot = members.toSeq.map(deg).sum
        BigInt(m2) * ein - BigInt(stot) * stot
      }.foldLeft(BigInt(0))(_ + _)
    assert(q2m2(multi) > q2m2(single),
      s"phase 2 must strictly improve modularity on the clique ring: " +
        s"${q2m2(multi)} vs ${q2m2(single)}")
    assert(multi.values.toSet.size < single.values.toSet.size,
      "phase 2 must merge communities on this fixture")
    // every merged community is a union of level-1 communities (the
    // contraction can only coarsen, never split)
    val byL1 = single.groupBy(_._2).values
    byL1.foreach { grp =>
      assert(grp.keys.map(multi).toSet.size == 1,
        "a level-1 community must map into ONE multi-level community")
    }
    // levels = 1 is exactly the single-level operator
    val one = Graph.louvainMultiLevel(edges, "src", "dst",
        itersPerLevel = 4, levels = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === single)
    // determinism under repartitioning
    val again = Graph.louvainMultiLevel(edges.repartition(5), "src", "dst",
        itersPerLevel = 4, levels = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === multi)
  }

  test("louvain: negative node ids move on the parity schedule (pmod, not %)") {
    // two disjoint triangles entirely on negative ids, odd AND even;
    // with signed % the odd-negative nodes (-1, -3, -5) would never be
    // move-eligible (-1 matches neither parity class) and stay frozen
    // as singletons
    val tri = Seq((-1L, -2L), (-2L, -3L), (-3L, -1L),
      (-4L, -5L), (-5L, -6L), (-6L, -4L))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val got = Graph.louvain(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cA = Set(-1L, -2L, -3L).map(got)
    val cB = Set(-4L, -5L, -6L).map(got)
    assert(cA.size == 1, s"triangle A must merge: $got")
    assert(cB.size == 1, s"triangle B must merge: $got")
    assert(cA != cB)
  }

  test("kCore: hand-peeled K5+tail; synchronous rounds peel one tail node each") {
    // K5 on 1..5 plus the path 5-6-7-8: at k=2 the peel removes 8
    // (deg 1), then 7, then 6 — one per synchronous round
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (k5 ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))).toDF("src", "dst")
    def survivors(iters: Int): Map[Long, Long] =
      Graph.kCore(edges, "src", "dst", k = 2, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(survivors(1).keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(survivors(2).keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val s3 = survivors(3)
    assert(s3.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(s3.values.toSeq.forall(_ == 4L),
      s"K5 degrees must be 4 after the tail peels: $s3")
    // stability: extra rounds past the fixed point are no-ops
    assert(survivors(6) == s3)
  }

  test("kCore: planted dense core survives a sparse periphery; input noise canonicalizes") {
    val core = for (a <- 10L to 15L; b <- (a + 1) to 15L) yield (a, b) // K6
    val periphery = (0L to 9L).flatMap(p =>
      Seq((p, 10L + p % 6), (11L + (p + 2) % 5, p)))
    // directed dupes + self-loops must canonicalize away
    val noisy = core ++ core.map(_.swap) ++ periphery :+ (12L, 12L)
    val got = Graph.kCore(noisy.toDF("src", "dst"), "src", "dst",
        k = 5, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (10L to 15L).toSet,
      s"k=5 must keep exactly the K6 core: $got")
    assert(got.values.toSeq.forall(_ == 5L))
  }

  test("advanceKCore: cycle closure cascades across the whole path (multi-hop frontier); untouched core passes through") {
    // base: K3 {1,2,3} (the stable 2-core) + path 10-11-12-13-14 (no
    // 2-core — the synchronous peel erases it end-in). Closing edge
    // (10,14) makes the path a C5: ALL five nodes join, and the
    // frontier must expand 10/14 → 11/13 → 12 — a genuine multi-hop
    // cascade that crosses partitions when the inputs are scattered.
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
    val base = (k3 ++ path).toDF("src", "dst").repartition(4)
    val prev = Graph.kCore(base, "src", "dst", k = 2, iters = 6)
    assert(prev.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "base fixed point must be the K3 alone")
    // delta also carries a core-core edge? no — (1,10) attaches the
    // cycle to the K3, so node 1 and 10's degrees must update too
    val delta = Seq((10L, 14L), (1L, 10L)).toDF("src", "dst").repartition(3)
    val got = Graph.advanceKCore(prev, base, "src", "dst", delta, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 10L -> 3L, 11L -> 2L,
      12L -> 2L, 13L -> 2L, 14L -> 2L)
    assert(got == want, s"got $got")
    // equality with the from-scratch fixed point, and with the
    // mutual-dependence case (two nodes that only qualify together)
    val full = Graph.kCore(base.unionAll(delta), "src", "dst",
        k = 2, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
  }

  test("advanceKCore: mutual-dependence joiners, core-internal delta degrees, dup/known edges, partition independence") {
    // K4 {1..4}; 5 and 6 each have two core neighbors and only
    // qualify at k=3 if BOTH join (they need each other)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val base = (k4 ++ Seq((1L, 5L), (2L, 5L), (1L, 6L), (2L, 6L)))
      .toDF("src", "dst")
    val prev = Graph.kCore(base, "src", "dst", k = 3, iters = 5)
    assert(prev.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // delta: the mutual edge (5,6) twice + an already-known edge +
    // a core-internal... (3,4) is known; all dupes must be no-ops
    val delta = Seq((5L, 6L), (6L, 5L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.advanceKCore(prev, base, "src", "dst", delta, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Graph.kCore(base.unionAll(delta), "src", "dst",
        k = 3, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    assert(got(5L) == 3L && got(6L) == 3L, s"mutual joiners: $got")
    // partition independence
    val again = Graph.advanceKCore(prev, base.repartition(7), "src", "dst",
        delta.repartition(2), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    // a delta that creates NO joiners but raises core degrees: (3,4)
    // alone is already present → advance is a no-op
    val noop = Graph.advanceKCore(prev, base, "src", "dst",
        Seq((3L, 4L)).toDF("src", "dst"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == prev.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("retractKCore: one removed edge cascades the whole cycle out hop by hop; untouched core passes through; absent/dup removals are no-ops") {
    // K4 {1..4} + C6 {10..15}: the k=2 fixed point is all ten nodes.
    // Removing ONE cycle edge turns C6 into a path with no 2-core —
    // the deletion cascade must walk the cycle out from both ends
    // (15,10 → 14,11 → 13,12: genuinely multi-hop) while K4 passes
    // through byte-identical.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c6 = (10L to 14L).map(v => (v, v + 1)) :+ (10L, 15L)
    val base = (k4 ++ c6).toDF("src", "dst").repartition(4)
    val prev = Graph.kCoreFixedPoint(base, "src", "dst", k = 2)
    assert(prev.collect().map(_.getLong(0)).toSet ==
      (1L to 4L).toSet ++ (10L to 15L).toSet)
    // removed set carries a dup, a reversed dup, and an absent edge —
    // all must be ignored / collapse
    val removed = Seq((10L, 15L), (15L, 10L), (20L, 21L))
      .toDF("src", "dst").repartition(3)
    val got = Graph.retractKCore(prev, base, "src", "dst", removed, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val remaining = (k4 ++ c6.filterNot(_ == (10L, 15L))).toDF("src", "dst")
    val full = Graph.kCoreFixedPoint(remaining, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"got $got")
    assert(got.keySet == (1L to 4L).toSet && got.values.forall(_ == 3L),
      s"only the K4 survives the cycle break: $got")
    // retracting an entirely-absent set is a no-op
    val noop = Graph.retractKCore(prev, base, "src", "dst",
        Seq((40L, 41L)).toDF("src", "dst"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == prev.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("retractKCore: partial cascade stops at the still-qualified boundary; degrees refresh only next to the wound") {
    // K5 {1..5} with a 2-node appendix {6,7}: 6-1, 6-2, 6-7, 7-1, 7-2
    // — at k=3 everyone qualifies (6 and 7 hold each other up).
    // Removing (6,7) drops both to degree 2 < 3: they cascade out,
    // but the K5 loses only the appendix edges — 1 and 2 refresh to
    // degree 4, the rest pass through.
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val base = (k5 ++ Seq((6L, 1L), (6L, 2L), (6L, 7L), (7L, 1L), (7L, 2L)))
      .toDF("src", "dst")
    val prev = Graph.kCoreFixedPoint(base, "src", "dst", k = 3)
    assert(prev.collect().map(_.getLong(0)).toSet == (1L to 7L).toSet)
    val got = Graph.retractKCore(prev, base, "src", "dst",
        Seq((7L, 6L)).toDF("src", "dst"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L),
      s"got $got")
  }

  test("retractKCore ∘ advanceKCore is identity on the survivor set") {
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
    val base = (k3 ++ path).toDF("src", "dst")
    val prev = Graph.kCoreFixedPoint(base, "src", "dst", k = 2)
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = Seq((10L, 14L), (1L, 10L)).toDF("src", "dst")
    val adv = Graph.advanceKCore(prev, base, "src", "dst", delta, k = 2)
      .localCheckpoint()
    val union = base.unionAll(delta)
    val back = Graph.retractKCore(adv, union, "src", "dst", delta, k = 2)
    assert(m(back) == m(prev), "retract∘advance must restore the core")
  }

  test("maxRounds guard: a cycle-closure delta that outruns the bound falls back to the exact full re-peel (both directions)") {
    // path 10..29 + K4: closing edge (10,29) makes a C20 whose frontier
    // expansion needs ~10 rounds — maxRounds=2 must trip the guard and
    // the fallback must still return the exact fixed point.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val path = (10L until 29L).map(v => (v, v + 1))
    val base = (k4 ++ path).toDF("src", "dst")
    val prev = Graph.kCoreFixedPoint(base, "src", "dst", k = 2)
    assert(prev.collect().map(_.getLong(0)).toSet == (1L to 4L).toSet)
    val delta = Seq((10L, 29L)).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val guarded = m(Graph.advanceKCore(prev, base, "src", "dst", delta,
      k = 2, maxRounds = 2))
    val unguarded = m(Graph.advanceKCore(prev, base, "src", "dst", delta,
      k = 2))
    val full = m(Graph.kCoreFixedPoint(base.unionAll(delta), "src", "dst",
      k = 2))
    assert(guarded == full, "fallback must be exact")
    assert(unguarded == full, "incremental path must agree")
    // the deletion side: breaking the C20 cascades ~10 hops — the
    // guarded retract must fall back to the core-induced re-peel
    val cyc = Graph.kCoreFixedPoint(base.unionAll(delta), "src", "dst", k = 2)
      .localCheckpoint()
    val gotR = m(Graph.retractKCore(cyc, base.unionAll(delta), "src", "dst",
      delta, k = 2, maxRounds = 2))
    val gotRFree = m(Graph.retractKCore(cyc, base.unionAll(delta), "src",
      "dst", delta, k = 2))
    assert(gotR == m(prev) && gotRFree == m(prev))
  }

  test("kCoreFixedPoint fails loud past maxRounds; degree-pruned frontier never walks a sub-k chain") {
    // a 12-node path at k=2 peels 2 endpoints per synchronous round —
    // 6 productive rounds; maxRounds=2 must throw, not return a
    // mid-peel superset
    val path12 = (1L until 12L).map(v => (v, v + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.kCoreFixedPoint(path12, "src", "dst", k = 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("maxRounds"))
    // degree prune (ADVICE round 14): a delta endpoint wired into a
    // long sub-k chain must not flood the region — every chain node
    // has degree 2 < k = 3, so the frontier stops immediately, and the
    // result still equals the full peel (no joiners here: node 20's
    // only ≥k support would need the chain)
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = (20L until 26L).map(v => (v, v + 1))
    val base = (k5 ++ chain).toDF("src", "dst")
    val prev = Graph.kCoreFixedPoint(base, "src", "dst", k = 3)
    val delta = Seq((1L, 20L), (2L, 20L)).toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = m(Graph.advanceKCore(prev, base, "src", "dst", delta, k = 3))
    val full = m(Graph.kCoreFixedPoint(base.unionAll(delta), "src", "dst",
      k = 3))
    assert(got == full)
    assert(got.keySet == (1L to 5L).toSet && got.values.forall(_ == 4L))
  }

  test("pageRankFrom: continuing a cold prefix is bit-identical to the longer cold run; absent nodes start uniform") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the exact-replay law: warm rounds continue the quantized sequence
    val cold2 = Graph.pageRank(edges, "src", "dst", iters = 2)
    val cont = Graph.pageRankFrom(edges, "src", "dst",
      cold2.select(col("node"), col("rank")), iters = 1)
    assert(m(cont) == m(Graph.pageRank(edges, "src", "dst", iters = 3)),
      "pageRankFrom(pageRank(T1), T2) must equal pageRank(T1+T2) to the bit")
    // an empty start vector degenerates to the uniform cold start
    val empty = Seq.empty[(Long, Double)].toDF("node", "rank")
    assert(m(Graph.pageRankFrom(edges, "src", "dst", empty, iters = 2)) ==
      m(cold2))
    // grown graph: node 5 is new — absent from the start vector, it
    // enters at 1/N of the NEW graph; present nodes keep their rank
    val grown = edges.unionAll(Seq((5L, 2L), (3L, 5L)).toDF("src", "dst"))
    val warm = Graph.pageRankFrom(grown, "src", "dst",
      cold2.select(col("node"), col("rank")), iters = 1)
    assert(warm.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // partition independence of the warm path
    val again = Graph.pageRankFrom(grown.repartition(5), "src", "dst",
      cold2.select(col("node"), col("rank")).repartition(3), iters = 1)
    assert(m(again) == m(warm))
  }

  test("neighborhoodFunction: estimates equal the exact ball's register arithmetic on a path (hand ladder)") {
    import graft.functions.PortableSketches._
    // path 1-2-3-4-5: exact balls are intervals, so the expected
    // estimate is the SAME portable register arithmetic computed over
    // the known member set — equality is bit-exact
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graph.neighborhoodFunction(edges, "src", "dst", iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 15, s"5 nodes x 3 rounds: ${got.size}")
    def ball(v: Long, t: Int): Seq[Long] =
      (1L to 5L).filter(u => math.abs(u - v) <= t)
    val members = for (v <- 1L to 5L; t <- 1 to 3; u <- ball(v, t))
      yield (v, t, u)
    val exp = members.toDF("node", "t", "member")
      .select(col("node"), col("t"), hllDigest(col("member")).as("__d"))
      .groupBy(col("node"), col("t"), hllBucket(col("__d")).as("bucket"))
      .agg(max(hllRho(col("__d"))).as("r"))
      .groupBy("node", "t")
      .agg(sum(hllRegisterTerm(col("r"))).as("zsum"),
        count(lit(1)).as("present"))
      .select(col("node"), col("t"),
        hllEstimate(col("zsum"), col("present")).as("est"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == exp, "per-(node, t) estimates must equal the exact-ball register arithmetic, to the bit")
    // ladder semantics: the center saturates at its eccentricity (2),
    // the endpoint keeps growing through t=3, estimates are monotone
    assert(got((3L, 2)) == got((3L, 3)), "center ball saturates at t=2")
    assert(got((1L, 2)) < got((1L, 3)), "endpoint ball still grows at t=3")
    for (v <- 1L to 5L; t <- 1 to 2)
      assert(got((v, t)) <= got((v, t + 1)), s"monotone ladder at $v/$t")
    // partition independence
    val again = Graph.neighborhoodFunction(edges.repartition(5), "src",
        "dst", iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == got)
  }

  test("effectiveDiameter: path graph saturates at its exact diameter; d90 interpolates inside the ladder; fails loud past maxRounds") {
    import org.apache.spark.sql.functions.col
    // path 0-1-…-9: diameter 9, so registers must stop changing after
    // exactly 9 merge rounds — the saturation depth is EXACT even
    // though the ball sizes are HLL estimates
    val path = (0L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val lad = Graph.effectiveDiameter(path, "src", "dst", maxRounds = 15)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(lad.map(_._1).toSeq == (0 to 9), s"ladder t: ${lad.map(_._1).toSeq}")
    // N(t) strictly grows to saturation; N(0) is the exact node count
    assert(lad.head._2 == 10.0)
    lad.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 > a._2, s"N(t) must strictly grow: $a -> $b") }
    // d90 is one value across rows, interpolated strictly inside the
    // ladder (0.9·N(9) falls between two real ladder points)
    val d90 = lad.head._3
    assert(lad.forall(_._3 == d90))
    assert(d90 > 0.0 && d90 < 9.0, s"d90=$d90")
    // two components saturate at the LARGER diameter
    val two = ((0L to 8L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
    val lad2 = Graph.effectiveDiameter(two, "src", "dst", maxRounds = 15)
      .collect().map(_.getInt(0))
    assert(lad2.max == 9, "saturation depth is the max component diameter")
    // fail-loud: a ladder that cannot saturate within maxRounds throws
    val err = intercept[IllegalStateException] {
      Graph.effectiveDiameter(path, "src", "dst", maxRounds = 3)
    }
    assert(err.getMessage.contains("maxRounds"))
  }

  test("degreeProfile: hand-computed histogram, per-degree clustering, assortativity on triangle+pendant") {
    import org.apache.spark.sql.functions.col
    // triangle {1,2,3} with pendant (3,4): degrees 2,2,3,1; nodes
    // 1,2,3 each in one triangle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val stats = Graph.triangleStats(edges, "src", "dst")
    val canon = edges.select(col("src").as("a"), col("dst").as("b"))
    val prof = Graph.degreeProfile(stats, canon)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // rows by degree: (1: node 4), (2: nodes 1,2), (3: node 3)
    assert(prof.map(p => (p._1, p._2, p._3, p._4)).toSeq == Seq(
      (1L, 1L, 0L, 0.0),
      (2L, 2L, 2L, 1.0),             // 2·2/(2·2·1)
      (3L, 1L, 1L, 2.0 * 1 / (1 * 3 * 2))), s"got ${prof.toSeq}")
    // assortativity by hand over the 8 symmetrized endpoint pairs:
    // M=8, Σjk=38, Σj=18, Σj²=44 → r = (8·38−18²)/(8·44−18²) = −20/28
    val r = prof.head._5
    assert(prof.forall(_._5 == r))
    assert(r == -20.0 / 28.0, s"assortativity $r")
    // degree-regular graph (a 4-cycle) has zero degree variance → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val prof2 = Graph.degreeProfile(
      Graph.triangleStats(cyc, "src", "dst"),
      cyc.select(col("src").as("a"), col("dst").as("b")))
    assert(prof2.collect().forall(_.isNullAt(4)), "regular graph → NULL r")
  }

  test("advanceTriangleStats: incremental equals full re-count (cross-partition delta, new nodes, dup/known edges)") {
    def stats(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleStats(df, "src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    val base = (0 until 150).map(i =>
      ((i * 7919L) % 50, (i * 104729L) % 50)).filter(e => e._1 != e._2)
    // delta: more edges on the same nodes + brand-new nodes 60..63 +
    // a duplicate of a base edge + an internal dup
    val delta = (150 until 210).map(i =>
      ((i * 7919L) % 50, (i * 104729L) % 50)).filter(e => e._1 != e._2) ++
      Seq((60L, 61L), (61L, 62L), (62L, 60L), (62L, 63L), base.head,
        (60L, 61L))
    val full = stats((base ++ delta).toDF("src", "dst"))
    val prev = Graph.triangleStats(base.toDF("src", "dst"), "src", "dst")
    val inc = Graph.advanceTriangleStats(prev, base.toDF("src", "dst"),
        "src", "dst", delta.toDF("src", "dst").repartition(7))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(inc == full,
      s"incremental must equal the full re-count bit-for-bit")
    // the planted new-node triangle 60-61-62 must be found
    assert(inc.find(_._1 == 60L).get._3 == 1L)
    assert(inc.find(_._1 == 63L).get._3 == 0L)
  }

  test("kTruss: hand-computed supports; peel strictness over k; cascade prefix per round") {
    // K5 on 1..5 (every edge closes 3 triangles) + triangle {5,6,7}
    // (each edge closes 1) + pendant 7-8 (closes 0)
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val fix = k5 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))
    def truss(edges: Seq[(Long, Long)], k: Int, iters: Int) =
      Graph.kTruss(edges.toDF("src", "dst"), "src", "dst", k, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    // k=3: only the pendant peels; supports exact
    val t3 = truss(fix, 3, 2)
    assert(t3.keySet == (k5 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L))).toSet)
    assert(t3((1L, 2L)) == 3L && t3((5L, 6L)) == 1L)
    // k=4: the hanging triangle peels too — exactly K5 remains
    val t4 = truss(fix, 4, 2)
    assert(t4.keySet == k5.toSet)
    assert(t4.values.toSeq.forall(_ == 3L))
    // cascade: triangle chain (1,2,3),(2,3,4),(3,4,5) at k=4 —
    // round 1 keeps only the two support-2 spine edges, round 2
    // finds no triangles among them and empties
    val chain = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L))
    assert(truss(chain, 4, 1).keySet == Set((2L, 3L), (3L, 4L)))
    assert(truss(chain, 4, 2).isEmpty)
    // noisy input (directed dupes, self-loop) canonicalizes; result
    // is partition-independent
    val noisy = (fix ++ fix.map(_.swap) :+ (3L, 3L)).toDF("src", "dst")
    val a = Graph.kTruss(noisy, "src", "dst", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = Graph.kTruss(noisy.repartition(7), "src", "dst", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b)
    assert(a.map(t => (t._1, t._2)).toSet == k5.toSet)
  }

  test("retractTriangleStats: retraction equals full re-count; retract∘advance is identity; isolated nodes leave") {
    def stats(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleStats(df, "src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    val keep = (0 until 120).map(i =>
      ((i * 7919L) % 40, (i * 104729L) % 40)).filter(e => e._1 != e._2)
    // removed set: more same-domain edges + an edge isolating node 99
    // + a not-present edge (ignored) + a duplicate
    val rem = (120 until 160).map(i =>
      ((i * 7919L) % 40, (i * 104729L) % 40)).filter(e => e._1 != e._2) ++
      Seq((98L, 99L), (500L, 501L), (98L, 99L))
    val all = keep ++ Seq((98L, 99L)) ++ rem.filter(e => e._1 < 400)
    val prev = Graph.triangleStats(all.toDF("src", "dst"), "src", "dst")
    val got = Graph.retractTriangleStats(prev, all.toDF("src", "dst"),
        "src", "dst", rem.toDF("src", "dst").repartition(5))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // ground truth: full re-count on the canonical remaining edge set
    def cn(e: (Long, Long)) = (math.min(e._1, e._2), math.max(e._1, e._2))
    val remain = all.map(cn).distinct.filterNot(rem.map(cn).toSet)
    assert(got == stats(remain.toDF("src", "dst")),
      "retraction must equal the full re-count bit-for-bit")
    assert(!got.exists(_._1 == 99L), "isolated node must leave the table")
    // retract(advance(S, D), D) ≡ S for a canonically-disjoint D
    val keepC = keep.map(cn).distinct
    val dDisj = rem.map(cn).distinct.filterNot(keepC.toSet)
      .filter(_._1 < 400L)
    val s0 = Graph.triangleStats(keep.toDF("src", "dst"), "src", "dst")
    val adv = Graph.advanceTriangleStats(s0, keep.toDF("src", "dst"),
      "src", "dst", dDisj.toDF("src", "dst"))
    val allEdges = (keepC ++ dDisj).toDF("src", "dst")
    val back = Graph.retractTriangleStats(adv, allEdges, "src", "dst",
        dDisj.toDF("src", "dst"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(back == stats(keep.toDF("src", "dst")),
      "retract after advance must restore the base stats")
  }

  test("pageRankWeighted: integer weights behave as parallel unit edges; w_deg exact") {
    val weighted = Seq((1L, 2L, 3L), (2L, 3L, 2L), (3L, 1L, 1L),
      (1L, 3L, 2L), (3L, 2L, 1L))
    val expanded = weighted.flatMap { case (s, d, w) =>
      Seq.fill(w.toInt)((s, d)) }
    val got = Graph.pageRankWeighted(weighted.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val want = Graph.pageRank(expanded.toDF("src", "dst"), "src", "dst",
        iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq)
    assert(got.map(_._2).toSeq == want.map(_._2).toSeq,
      "weighted degree must equal the parallel-edge out-degree")
    got.zip(want).foreach { case ((n, _, rw), (_, _, ru)) =>
      // the per-term 1e-12 floor quantizes w·floor(x) vs floor(w·x)
      // differently — identical to w·1e-12 per round, far below
      // ranking resolution
      assert(math.abs(rw - ru) < 1e-9, s"node $n: $rw vs $ru")
    }
    // determinism under repartitioning
    val again = Graph.pageRankWeighted(
        weighted.toDF("src", "dst", "w").repartition(5),
        "src", "dst", "w", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(again.toSeq == got.toSeq)
    // a negative multiplicity would silently corrupt every rank —
    // the precondition is validated, not assumed
    val neg = intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(
        Seq((1L, 2L, 3L), (2L, 1L, -1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 1)
    }
    assert(neg.getMessage.contains("non-negative"))
  }

  // The four PageRank entry points share one power iteration; these two
  // laws pin that each variant reduces to pageRank at its identity
  // input, to the bit (a variant that re-typed the round differently
  // would drift by an ulp somewhere).
  private val lawEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L),
    (4L, 1L), (3L, 5L), (5L, 3L), (2L, 6L))

  private def triples(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  test("personalizedPageRank seeded with every node equals pageRank to the bit") {
    val edges = lawEdges.toDF("src", "dst")
    val all = (lawEdges.map(_._1) ++ lawEdges.map(_._2)).distinct.toDF("node")
    val got = triples(Graph.personalizedPageRank(edges, "src", "dst",
      all, "node", iters = 4))
    val want = triples(Graph.pageRank(edges, "src", "dst", iters = 4))
    assert(got.nonEmpty && got == want)
  }

  test("pageRankWeighted with every w = 1 equals pageRank to the bit") {
    val edges = lawEdges.toDF("src", "dst")
    val got = triples(Graph.pageRankWeighted(
      edges.withColumn("w", lit(1L)), "src", "dst", "w", iters = 4))
    val want = triples(Graph.pageRank(edges, "src", "dst", iters = 4))
    assert(got.nonEmpty && got == want,
      "unit weights must give pageRank's ranks and w_deg == out_deg")
  }
}
