package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Measured time-vs-size curves for the graph family (triangles,
  * Louvain, multi-level Louvain) — the ScalingCurve idea applied to
  * edges: the base graph is the sf co-order part graph (q220's) and
  * each expansion copy is an ID-OFFSET replica (nodes shifted by
  * i·10⁹). Copies are structurally identical and mutually
  * disconnected, so the honest expectation is LINEAR time growth.
  * Result semantics differ by op: triangle counts replicate EXACTLY
  * (per-copy local structure — the sweep checks 4 copies = 4× the
  * count), while Louvain's community count does NOT multiply by the
  * copy count — modularity is a GLOBAL objective with the
  * well-known resolution limit (Fortunato & Barthélemy 2007): as 2m
  * grows, merging two fixed communities gains m2·w − ΣA·ΣB, so the
  * same local structure legitimately coarsens MORE inside a larger
  * corpus (measured here: 909 communities at x1 → 160 at x4 after
  * the contraction level). The check column records both so the
  * behavior is pinned, not discovered.
  *
  * Run: `runMain graft.tools.GraphScaleSweep` (env SPARK_GRAFT_SF_DIR,
  * default sf0.1; SPARK_GRAFT_GRAPH_COPIES, default "1,4,8";
  * SPARK_GRAFT_GRAPH_OPS, comma list of
  * triangles|louvain|multilevel|kcore|kcoreinc, default the first
  * four — kcoreinc is the incremental-advance-vs-full-re-peel A/B).
  */
object GraphScaleSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.engine.GraftEngine
      .sessionBuilder(s"local[$cpus]", parts.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = graft.ops.Tables.table(spark, sfDir, "lineitem")
    // materialize once so every expansion reads the same pair table
    val b = Graph.coOrderEdges(li).localCheckpoint()
    // `copies` disjoint copies of an edge set, ids offset by 10^9 per copy
    def expand(e: org.apache.spark.sql.DataFrame, copies: Int) =
      (0 until copies).map(i =>
          e.select((col("src") + i * 1000000000L).as("src"),
            (col("dst") + i * 1000000000L).as("dst")))
        .reduce(_.unionAll(_))

    println("| op | copies | edges-in | wall (s) | check |")
    val copiesList = sys.env.getOrElse("SPARK_GRAFT_GRAPH_COPIES", "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val opsRun = sys.env.getOrElse("SPARK_GRAFT_GRAPH_OPS",
      "triangles,louvain,multilevel,kcore").split(",").map(_.trim).toSet
    for (copies <- copiesList) {
      val edges = expand(b, copies)
      // the co-order edges of the orders `pred` keeps, expanded like `edges`
      def pairsAt(pred: org.apache.spark.sql.Column) =
        expand(Graph.coOrderEdges(li.where(pred)), copies)
      val n = edges.count()
      def time[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime()
        val r = f
        ((System.nanoTime() - t0) / 1e9, r)
      }
      if (opsRun("triangles")) {
        val (tTri, tri) = time {
          Graph.triangleStats(edges, "src", "dst")
            .agg(sum("n_triangles")).head().getLong(0)
        }
        println(f"| triangles | $copies | $n | $tTri%.2f | tri3=$tri |")
      }
      val sym = edges.unionAll(edges.select(col("dst").as("src"),
        col("src").as("dst")))
      if (opsRun("louvain")) {
        val (tLv, nc) = time {
          Graph.louvain(sym, "src", "dst", iters = 4)
            .agg(countDistinct("community")).head().getLong(0)
        }
        println(f"| louvain i4 | $copies | $n | $tLv%.2f | comms=$nc |")
      }
      if (opsRun("multilevel")) {
        val (tMl, nc2) = time {
          Graph.louvainMultiLevel(sym, "src", "dst", itersPerLevel = 3,
              levels = 2)
            .agg(countDistinct("community")).head().getLong(0)
        }
        println(f"| louvain 2-level | $copies | $n | $tMl%.2f | comms=$nc2 |")
      }
      if (opsRun("kcore")) {
        // structure replicates per copy, so survivors scale ×N exactly
        val (tKc, kc) = time {
          Graph.kCore(edges, "src", "dst", k = 70, iters = 5).count()
        }
        println(f"| kcore k70 i5 | $copies | $n | $tKc%.2f | survivors=$kc |")
      }
      if (opsRun("anf")) {
        // neighborhood function on q232's part–supplier bipartite
        // graph (the co-order graph's dense cliques saturate every
        // register set by t=2 — the bipartite graph is the honest
        // sparse-ball workload). Copies are disconnected id-offset
        // replicas: ball SIZES replicate exactly, but the HLL
        // estimates hash the offset ids, so the summed estimate
        // tracks ×N within the sketch's ~1% aggregate error — the
        // check column pins that, not exact ×N.
        val ps0 = graft.ops.Tables.table(spark, sfDir, "lineitem")
          .where(col("l_partkey") % 3 === 0)
          .select(col("l_partkey").as("src"),
            (col("l_suppkey") + 1000000000L).as("dst"))
          .localCheckpoint()
        val ps = (0 until copies).map(i =>
            ps0.select((col("src") + i * 2000000000L).as("src"),
              (col("dst") + i * 2000000000L).as("dst")))
          .reduce(_.unionAll(_))
        val m = ps.count()
        val (tAnf, s3) = time {
          Graph.neighborhoodFunction(ps, "src", "dst", iters = 3)
            .agg(sum("ball_est")).head().getDouble(0)
        }
        println(f"| anf t3 (part-supp) | $copies | $m | $tAnf%.2f | sum_ball=$s3%.1f |")
      }
      if (opsRun("kcoreret")) {
        // incremental k-core RETRACTION vs the full fixed-point re-peel
        // of the remainder: a ~2%-of-pairs takedown slice leaves the
        // stabilized core (materialized UNTIMED — it exists in the
        // maintenance scenario); checksums compared
        val kb = pairsAt(lit(true)).localCheckpoint()
        val removed = kb.where((col("src") + col("dst")) % 50 === 0)
          .localCheckpoint()
        val prevCore = Graph.kCoreFixedPoint(kb, "src", "dst", k = 55)
          .localCheckpoint()
        val (tFullR, cF) = time {
          Graph.kCoreFixedPoint(
              kb.join(removed, Seq("src", "dst"), "left_anti"),
              "src", "dst", k = 55)
            .agg(count(lit(1)), sum("deg")).head()
        }
        val (tRet, cR) = time {
          Graph.retractKCore(prevCore, kb, "src", "dst", removed, k = 55)
            .agg(count(lit(1)), sum("deg")).head()
        }
        require(cF == cR, s"full $cF != retract $cR")
        println(f"| kcore-ret k55 | $copies | $n | full $tFullR%.2f / ret $tRet%.2f | surv=${cF.getLong(0)} |")
      }
      if (opsRun("kcoreinc")) {
        // incremental k-core advance vs the full fixed-point re-peel:
        // 1%-of-orders edge delta (the triangle-maintenance scenario), base
        // core materialized UNTIMED (it exists in the maintenance
        // scenario); both legs at the k=55 fixture the q231 oracle
        // uses, checksums compared
        val kb = pairsAt(col("l_orderkey") % 100 =!= 0).localCheckpoint()
        val kd = pairsAt(col("l_orderkey") % 100 === 0).localCheckpoint()
        val prevCore = Graph.kCore(kb, "src", "dst", k = 55, iters = 9)
          .localCheckpoint()
        val (tFull, cF) = time {
          Graph.kCore(kb.unionAll(kd), "src", "dst", k = 55, iters = 9)
            .agg(count(lit(1)), sum("deg")).head()
        }
        val (tInc, cI) = time {
          Graph.advanceKCore(prevCore, kb, "src", "dst", kd, k = 55)
            .agg(count(lit(1)), sum("deg")).head()
        }
        require(cF == cI, s"full $cF != incremental $cI")
        println(f"| kcore-adv k55 | $copies | $n | full $tFull%.2f / inc $tInc%.2f | surv=${cF.getLong(0)} |")
      }
      if (opsRun("kcoreretloc")) {
        // LOCALIZED takedown (the robots-revocation shape: every edge
        // touching one contiguous ~2% id band) vs the full re-peel —
        // the complement of the scattered kcoreret slice, whose
        // every-neighborhood wound is retraction's worst case
        val kb = pairsAt(lit(true)).localCheckpoint()
        val removed = kb.where(
            pmod(col("src"), lit(1000000000L)) < 400 ||
            pmod(col("dst"), lit(1000000000L)) < 400)
          .localCheckpoint()
        val prevCore = Graph.kCoreFixedPoint(kb, "src", "dst", k = 55)
          .localCheckpoint()
        val (tFullR, cF) = time {
          Graph.kCoreFixedPoint(
              kb.join(removed, Seq("src", "dst"), "left_anti"),
              "src", "dst", k = 55)
            .agg(count(lit(1)), sum("deg")).head()
        }
        val (tRet, cR) = time {
          Graph.retractKCore(prevCore, kb, "src", "dst", removed, k = 55)
            .agg(count(lit(1)), sum("deg")).head()
        }
        require(cF == cR, s"full $cF != retract $cR")
        println(f"| kcore-ret-loc k55 | $copies | $n | full $tFullR%.2f / ret $tRet%.2f | surv=${cF.getLong(0)} |")
      }
      if (opsRun("comm")) {
        // WARM community maintenance vs cold re-clustering (q238's
        // posture): 1%-of-orders edge delta lands on a stabilized
        // assignment (seed materialized UNTIMED — it exists in the
        // maintenance scenario); both legs run louvainStable to the
        // same 12-round cap, so the rounds column IS the measured
        // saving. Assignments are local optima, not comparable by
        // hash — the check column records community counts.
        def symOf(df: org.apache.spark.sql.DataFrame) =
          df.unionAll(df.select(col("dst").as("src"), col("src").as("dst")))
        val cb = pairsAt(col("l_orderkey") % 100 =!= 0).distinct()
          .localCheckpoint()
        val cu = pairsAt(lit(true)).distinct().localCheckpoint()
        val seed = Graph.louvainStable(symOf(cb), "src", "dst", None, 12)
          ._1.localCheckpoint()
        val (tWarm, (ncW, rW)) = time {
          val (df, r) = Graph.louvainStable(symOf(cu), "src", "dst",
            Some(seed), 12)
          (df.agg(countDistinct("community")).head().getLong(0), r)
        }
        val (tCold, (ncC, rC)) = time {
          val (df, r) = Graph.louvainStable(symOf(cu), "src", "dst", None, 12)
          (df.agg(countDistinct("community")).head().getLong(0), r)
        }
        println(f"| comm warm | $copies | $n | cold $tCold%.2f (r$rC) / warm $tWarm%.2f (r$rW) | comms=$ncC/$ncW |")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
