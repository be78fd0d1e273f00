package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Rounds-to-convergence A/B for the warm-started PageRank (q235's
  * operator): after a 1%-of-orders edge delta lands on the co-order
  * graph, how many power rounds does the union graph need to reach a
  * successive-iterate tolerance — starting COLD (uniform) vs WARM
  * (the base graph's maintained rank vector)? The maintained vector
  * is built untimed (it exists in the maintenance scenario); both
  * legs then iterate one round at a time until
  * max |r_t − r_{t−1}| < eps.
  *
  * Run: `runMain graft.tools.PageRankWarmAb` (env SPARK_GRAFT_SF_DIR,
  * default sf0.1; SPARK_GRAFT_DELTA_MOD, default 100;
  * SPARK_GRAFT_PR_EPS, default 1e-6; SPARK_GRAFT_PR_MAXROUNDS,
  * default 60; SPARK_GRAFT_PR_SYM, default 1 — 0 runs the DIRECTED
  * a<b pair graph, whose skewed fixed point is where a warm start
  * actually pays: the symmetric near-regular graph's fixed point is
  * near-uniform, so a cold uniform start is already close).
  */
object PageRankWarmAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mod = sys.env.getOrElse("SPARK_GRAFT_DELTA_MOD", "100").toInt
    val eps = sys.env.getOrElse("SPARK_GRAFT_PR_EPS", "1e-6").toDouble
    val maxRounds = sys.env.getOrElse("SPARK_GRAFT_PR_MAXROUNDS", "60").toInt
    val spark = graft.engine.GraftEngine.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val symmetrize = sys.env.getOrElse("SPARK_GRAFT_PR_SYM", "1") == "1"
    def sym(pred: org.apache.spark.sql.Column): DataFrame = {
      val p = graft.ops.Graph.coOrderEdges(graft.ops.Tables.table(spark, sfDir, "lineitem")
        .where(col("l_partkey") % 3 === 0 && pred)).distinct()
      if (symmetrize) p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      else p
    }
    val base = sym(col("l_orderkey") % mod =!= 0).localCheckpoint()
    val union = sym(lit(true)).localCheckpoint()
    // the maintained vector: the base graph's (converged-ish) ranks
    val prev = Graph.pageRank(base, "src", "dst", iters = 20)
      .select(col("node"), col("rank")).localCheckpoint()
    val emptyStart = prev.where(lit(false))

    def roundsTo(start: DataFrame, label: String): Int = {
      var cur = Graph.pageRankFrom(union, "src", "dst", start, iters = 1)
        .select(col("node"), col("rank")).localCheckpoint()
      var t = 1
      var diff = Double.MaxValue
      while (diff > eps && t < maxRounds) {
        val nxt = Graph.pageRankFrom(union, "src", "dst", cur, iters = 1)
          .select(col("node"), col("rank")).localCheckpoint()
        diff = nxt.join(cur.withColumnRenamed("rank", "__p"), Seq("node"))
          .agg(max(abs(col("rank") - col("__p")))).head().getDouble(0)
        cur = nxt
        t += 1
      }
      println(f"| $label | rounds $t | final max-delta $diff%.3e |")
      t
    }
    println(s"| eps $eps | delta = orders %% $mod |")
    val cold = roundsTo(emptyStart, "cold (uniform)")
    val warm = roundsTo(prev, "warm (maintained vector)")
    println(f"| rounds saved | ${cold - warm} | ${cold.toDouble / warm}%.1fx fewer |")
    spark.stop()
  }
}
