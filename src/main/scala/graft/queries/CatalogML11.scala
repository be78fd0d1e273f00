package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._

/** Round-15 additions: the incremental similarity graph (near-dup
  * pairs as maintained edges), the HyperANF effective-diameter
  * readout, likelihood-scored WordPiece training, and the graph-native
  * profile. Bench reports them under the q23x/q24x rollup keys.
  */
object CatalogML11 {
  type Q = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // INCREMENTAL similarity graph (round-14 verdict #4): the dedup
    // family emits near-dup pairs and the graph family consumes edges
    // — this is the operator that CONNECTS them, the production
    // dedup-at-scale loop. The corpus arrives in three crawl waves;
    // wave 0 founds the signature index + CC label state
    // (Dedup.initSimilarityGraph), each later wave probes the index
    // for cross-corpus pairs (archive side exchange-free, never
    // re-signatured), mines its intra pairs bucket-locally (never
    // all-pairs), advances the CC state (touched clusters only), and
    // appends its signatures for the next wave. Band buckets depend
    // only on a doc's own text, so the per-wave enumerations find
    // exactly the batch pair set — maintained labels ≡ from-scratch
    // CC over ALL pairs, which the oracle states as q71's exact
    // recursive closure (LSH miss probability ~4e-10 at the 0.7
    // threshold; verification exact).
    ("q239_dedup_similarity_graph", (s: SparkSession, d: String) => {
      import graft.ops.Dedup
      val tag = Integer.toHexString(d.hashCode)
      val (bt, st, cc) =
        (s"q239_buckets_$tag", s"q239_sigs_$tag", s"q239_cc_$tag")
      val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
      def wave(w: Int) = docs.where(col("doc_id") % 3 === w)
      Dedup.initSimilarityGraph(s, wave(0), "doc_id", "text", bt, st, cc)
      for (w <- 1 to 2)
        Dedup.advanceSimilarityGraph(s, wave(w),
          docs.where(col("doc_id") % 3 < w), "doc_id", "text", bt, st, cc)
      s.table(cc).orderBy("id")
    }, Some(
      s"""WITH RECURSIVE ${CatalogML.clusterCteSql()}
         |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id
         |ORDER BY id""".stripMargin)),

    // Effective diameter via SATURATED HyperANF (round-14 verdict #5):
    // q232 runs the register ladder at fixed t=3; the headline
    // statistic needs the FULL ramp, so here the rounds run to their
    // register fixed point (one unchanged round proves saturation —
    // max-merge is monotone), the neighborhood function N(t) reads off
    // each ladder level as an order-free dsum of the per-node
    // portable-HLL estimates, and the 90% effective diameter
    // interpolates in IEEE doubles both engines compute identically.
    // The oracle unrolls a FIXED depth, emits a ladder row only for
    // rounds that changed a register (the engine's rule), and a guard
    // CTE fails the gate loudly if the unroll is too shallow to have
    // saturated. Graph: the sparser part–supplier co-membership slice
    // (l_partkey % 9) — small enough that the full ramp is cheap, deep
    // enough that the interpolation lands strictly inside the ladder.
    ("q240_graph_effective_diameter", (s: SparkSession, d: String) => {
      val edges = table(s, d, "lineitem")
        .where(col("l_partkey") % 9 === 0)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
      graft.ops.Graph.effectiveDiameter(edges, "src", "dst", maxRounds = 20)
    }, Some(graft.ops.Graph.effectiveDiameterSql(
      """p AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey + 1000000000 AS BIGINT) AS b
        |  FROM lineitem WHERE l_partkey % 9 = 0),
        |e AS (SELECT a AS src, b AS dst FROM p
        |      UNION ALL SELECT b, a FROM p)""".stripMargin,
      iters = 10))),

    // LIKELIHOOD-scored WordPiece training (round-14 verdict #6 —
    // q233 learns the frequency-threshold flavor; the BERT trainer
    // scores candidate merges by likelihood gain
    // count(ab)/(count(a)·count(b)) over the CURRENT segmentation).
    // Six merge rounds over the two-role symbolized documents
    // vocabulary; scores compare through the portable ln (the
    // unigram-LM discipline), so the argmax total order — and
    // therefore every selection AND rewrite round — replays in the
    // oracle verbatim (the q114→full-unroll upgrade: the
    // marker-string literal replace is engine-shared, unlike
    // bpeLearn's lookbehind regex).
    ("q241_wordpiece_likelihood", (s: SparkSession, d: String) => {
      graft.ops.WordPiece.learnScored(
          table(s, d, "documents").select(col("text")), "text",
          rounds = 6, maxWordLen = 12)
        .orderBy("merge_rank")
    }, Some(graft.ops.WordPiece.learnScoredSql(
      """dw AS (
        |  SELECT unnest(list_transform(string_split_regex(trim(text), '\s+'),
        |                               x -> lower(x))) AS word
        |  FROM documents
        |),
        |words AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM dw
        |  WHERE len(word) BETWEEN 1 AND 12 GROUP BY 1
        |)""".stripMargin, rounds = 6))),

    // Graph-native PROFILE read off the MAINTAINED pair (round-14
    // verdict stretch #8): degree histogram, exact per-degree mean
    // clustering (one integer division per bucket — every node in a
    // bucket shares the d(d−1) denominator), and the degree-
    // assortativity coefficient, computed from the persisted
    // (edges, stats) state tables — the report-side payoff of graph
    // maintenance: no triangle or wedge work recurs at read time.
    // The oracle recomputes the stats from scratch and restates the
    // same exact-integer / portable-double arithmetic.
    ("q242_graph_degree_profile", (s: SparkSession, d: String) => {
      import graft.ops.GraphState, GraphState.Triangles
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q242_graph_$tag"
      val pairs = graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
        .where(col("l_partkey") % 3 === 0))
      GraphState.init(s, st, Triangles, pairs, "src", "dst")
      graft.ops.Graph.degreeProfile(
        GraphState.table(s, st, Triangles), GraphState.edges(s, st))
    }, Some(graft.ops.Graph.degreeProfileSql(
      """e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0)""".stripMargin))),
  )
}
