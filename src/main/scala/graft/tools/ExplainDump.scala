package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.GraphState
import graft.ops.GraphState.{Anf, Communities, KCore, Triangles}

/** Dumps formatted physical plans — the artifact for plan review: scan
  * pruning (ReadSchema), filter pushdown (PushedFilters), broadcast vs
  * shuffle join selection, WholeStageCodegen spans, and exchange
  * placement. The session carries the engine's conf posture
  * ([[graft.engine.GraftEngine.recommendedConfs]]) on local[4].
  *
  * Two modes:
  *  - `ExplainDump [sfDir] [out]` writes the headline queries' plans
  *    to `PLANS.md` (default `out`).
  *  - `ExplainDump <before|after|execbefore|execafter> <name1,name2,...>
  *    [sfDir] [outDir]` writes one `<outDir>/<name>_<mode>.txt` per
  *    name (default `outDir`: `plans`) — the before/after evidence of
  *    a plan change: dump `before` on the parent commit and `after`
  *    on the change. The `exec*` modes EXECUTE the query and dump the
  *    FINAL adaptive plan (isFinalPlan=true) of EVERY query it runs,
  *    in execution order (an iterative operator's eager checkpoints,
  *    counts and state writes, not just the returned frame) — the
  *    only way to show AQE runtime rewrites (SMJ→SHJ conversion,
  *    coalesced reads), which a static explain cannot.
  *
  * Names resolve through the catalog plus the dump-only surfaces of
  * [[dumpOnly]] (e.g. `kcore_advance_plan`).
  */
object ExplainDump {
  private val Modes = Set("before", "after", "execbefore", "execafter")

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.filter(Modes)
    val args = if (mode.isDefined) argv.drop(2) else argv
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else if (mode.isDefined) "plans" else "PLANS.md"
    val spark = graft.engine.GraftEngine.sessionBuilder("local[4]", 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = graft.queries.Catalog.queries ++ dumpOnly
    mode match {
      case Some(m) =>
        Files.createDirectories(Paths.get(out))
        argv.lift(1).toSeq.flatMap(_.split(",")).foreach { name =>
          all.get(name) match {
            case None => System.err.println(s"[explain] unknown query: $name")
            case Some(fn) =>
              val plans =
                if (m.startsWith("exec"))
                  executedPlans(spark) { fn(spark, sfDir).collect(); () }
                else Seq(planOf(fn(spark, sfDir).queryExecution))
              val f = Paths.get(out, s"${name}_$m.txt")
              Files.writeString(f, plans.mkString("\n"))
              println(s"wrote $f")
          }
        }
      case None =>
        Files.writeString(Paths.get(out), plansMd(spark, sfDir, all))
        println(s"wrote $out")
    }
    spark.stop()
  }

  /** The formatted plan, with pid-keyed scratch paths masked: the
    * dumps are COMMITTED review artifacts, and scratch paths are
    * pid-keyed (LocalFiles.processScratchDir), so without masking
    * every regeneration diffs on the JVM pid alone and the
    * regenerate-and-diff plan-review workflow drowns in noise. */
  private def planOf(qe: QueryExecution): String =
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      .replaceAll("-pid\\d+", "-pidXXXX")

  /** The plan of every query `run` executes, in execution order, each
    * headed by its number and action name (`collect`, `count`, ...). */
  private def executedPlans(spark: SparkSession)(run: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(s"== ${seen.size + 1}: $f ==\n${planOf(qe)}")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // listener delivery is async — wait for the queue to go quiet
      var last = -1
      var spins = 0
      while (seen.size != last && spins < 120) {
        last = seen.size; spins += 1; Thread.sleep(500)
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def plansMd(spark: SparkSession, sfDir: String,
                      all: Map[String, (SparkSession, String) => DataFrame]): String = {
    val headline = Seq(
      "q01_scan_project", "q02_filter_pred", "q03_join_broadcast",
      "q04_join_shuffle", "q09_join_asof", "q10_agg_tpch_q1",
      "q18_sort_topk", "q28_window_tumbling", "q35_dedup_minhash",
      "q37_ann_bruteforce", "q58_join_asof_planned", "q54_agg_percentile",
      "q67_join_band", "q69_agg_topk", "q72_join_range_binned",
      "q46_ann_ivf", "q77_pipeline_e2e", "q79_layout_zorder",
      "q81_text_bm25", "q84_dedup_keep_one", "q86_ann_quantized",
      "q87_text_unigram_lm", "q90_agg_cms", "q98_decontam_salted",
      "q99_dedup_spans", "q100_dedup_spans_winnow", "q101_dedup_semantic",
      "q102_dedup_spans_remove", "q104_dedup_spans_cross",
      "q106_dedup_semantic_diverse", "q107_url_dedup", "q108_select_dsir",
      "q109_epoch_shuffle", "q110_select_dsir_gumbel", "q111_chunk_overlap",
      "q112_dedup_lines_global", "q113_budget_select", "q114_bpe_merges",
      "q115_ann_pq", "q116_bpe_encode", "q117_gopher_filter",
      "q118_text_bigram_lm", "q119_embed_project", "q120_profile_summary",
      "q121_bloom_probe", "q131_compact", "q132_hard_negatives",
      "q133_text_normalize", "q134_corpus_diff",
      "q135_hard_negatives_indexed", "q136_quality_classifier",
      "q137_ffd_packing", "q138_index_sync", "q139_optimize_table",
      "q140_bpe_encode_text", "q141_dedup_keep_best",
      "q142_text_dedup_lines_intra", "q143_text_html_extract",
      "q144_profile_quantiles", "q145_ann_ivf_tree",
      "q146_text_chunk_sentences", "q148_source_roundtrip",
      "q149_timeseries_gapfill",
      "q150_dedup_edit_join", "q151_search_phrase",
      "q152_incr_agg_state", "q153_profile_robust_outliers",
      "q154_profile_key_skew", "q155_graph_pagerank",
      "q156_search_phrase_indexed", "q157_search_bm25_indexed",
      "q158_sketch_state_hll", "q159_profile_winsorize",
      "q161_entity_resolution", "q162_graph_pagerank_seeded",
      "q163_text_collocations_pmi", "q164_text_mojibake_repair",
      "q165_events_rolling_range", "q166_events_funnel",
      "q167_events_retention_cohorts", "q168_scd2_build",
      "q169_scd2_point_in_time", "q170_events_sessionize",
      "q171_events_transitions", "q172_events_rolling_anomaly",
      "q173_events_active_users", "q174_text_tfidf_keywords",
      "q175_cdc_apply", "q176_events_abtest",
      "q178_events_funnel_latency", "q179_scd2_incremental",
      "q180_events_pipeline", "q181_graph_label_prop",
      "q182_events_paths", "q183_events_seasonal",
      "q184_text_readability", "q185_quality_audit", "q186_events_rfm",
      "q187_events_session_funnel", "q189_basket_lift",
      "q190_quantile_sketch", "q191_quantile_sketch_state",
      "q192_quantile_sketch_docs", "q194_langid_trained",
      "q195_pipeline_langid_trained", "q196_dau_exact_and_sketch",
      "q197_multimodal_av_headers", "q198_profile_continuous",
      "q199_survival_churn", "q201_bitemporal_asof",
      "q203_dedup_cc_incremental", "q204_snapshot_manifest",
      "q205_bitemporal_table", "q206_join_deep_q5",
      "q207_orc_roundtrip", "q208_image_neardup",
      "q209_bitemporal_incremental", "q210_join_market_share",
      "q213_quantile_sketch_bounded", "q215_join_q21_waiting",
      "q216_wav_pcm_stats", "q217_graph_louvain",
      "q219_graph_louvain_multilevel", "q220_graph_triangles",
      "q221_graph_louvain_weighted", "q222_mp4_sample_table",
      "q223_graph_kcore", "q224_graph_triangles_incremental",
      "q225_graph_pagerank_weighted", "q226_unigram_lm_train",
      "q227_unigram_lm_segment", "q228_graph_ktruss",
      "q229_graph_triangles_retract",
      // round-14 (q230/q236 are streaming-gate loops — absent like the
      // rest of that family; their evidence is the oracle + the
      // GraphStateSpec scan audit)
      "q231_graph_kcore_incremental", "q232_graph_neighborhood",
      "q233_wordpiece_encode", "q234_exif_tags",
      "q235_graph_pagerank_warm",
      // round-15 (q238/q243 are streaming-gate loops — their plan
      // evidence is the GraphStateSpec scan audits + the maintained-
      // pair advance plans dumped below; q239 composes the already-
      // dumped signature_index_probe with q203's CC advance; q241's
      // output is a driver-built merge table — its work is the
      // per-round jobs, spec-pinned)
      "q240_graph_effective_diameter", "q242_graph_degree_profile",
      "triangle_advance_plan", "kcore_advance_plan",
      "comm_advance_plan", "anf_advance_plan",
      // q122-q130, q147, q160, q177, q188, q193, q200, q202, q211, q212
      // and q218 (the streaming gate family) are deliberately absent: their
      // returned frame reads a memory sink or a maintained state table,
      // so its plan shows none of the streaming work — their evidence is
      // the DuckDB oracle (two-watermark arithmetic) + StreamGateSpec
      "ivf_index_probe", "signature_index_probe")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` on `$sfDir`.\n")
    sb.append("Checkpoints: pruned ReadSchema, PushedFilters on scans, broadcast\n")
    sb.append("joins for dims, TakeOrderedAndProject for top-k, partial aggregation\n")
    sb.append("before exchanges, WholeStageCodegen coverage.\n\n")
    headline.filter(all.contains).sorted.foreach { name =>
      sb.append(s"## $name\n\n```\n${planOf(all(name)(spark, sfDir).queryExecution)}\n```\n\n")
    }
    sb.toString
  }

  /** The dump-only surfaces, by name: lazy formulations of eager
    * catalog members, the persisted-index probes, and the four
    * maintained views' advance plans. */
  private val dumpOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q35's production path materializes eagerly (checkpoint + cache
    // release), which would collapse its dumped plan to the checkpoint
    // scan — dump the lazy formulation instead (same pipeline, full plan)
    "q35_dedup_minhash" -> ((s: SparkSession, d: String) =>
      graft.ops.Dedup.minhashJaccardPairs(
        graft.ops.Tables.table(s, d, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.7, materialize = false)
        .orderBy("id_a", "id_b")),
    // (the span miners' default is the recompute form — the dumped
    // q99/q100 plans legitimately show the gram explode twice; the
    // 2× scan is the measured-cheaper trade, see spansFromGrams)
    // the persisted-ANN-index read-back probe: checkpoints are the
    // bucketed index scan (Bucketed: true, SelectedBucketsCount <
    // total — only the probed cells' buckets are read, via the
    // pushed cent_id IN filter) and that no exchange carries the
    // packed codes or float vectors (shortlists/queries broadcast)
    "ivf_index_probe" -> ((s: SparkSession, d: String) => {
      val emb = graft.ops.Tables.table(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      s.sql("DROP TABLE IF EXISTS ivf_idx_plans")
      // a crashed previous run can leave the managed location behind
      // with no catalog entry — saveAsTable then refuses the name
      val loc = new java.io.File(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath,
        "ivf_idx_plans")
      if (loc.exists()) graft.ops.LocalFiles.deleteRecursively(loc.getPath)
      val cents = graft.ops.Similarity.writeIvfIndex(
        emb, "vec_id", "embedding", "ivf_idx_plans",
        nlist = 16, numBuckets = 16)
      graft.ops.Similarity.ivfTopKQuantizedFromIndex(s, "ivf_idx_plans",
        cents, emb, "vec_id", "embedding", queries, "qid", "qvec",
        k = 10, nprobe = 4)
    }),
    // the persisted-signature incremental-dedup probe: checkpoints
    // are Bucketed: true on both index scans and NO exchange between
    // a raw index scan and its first join (only the new-crawl side
    // moves — SignatureIndexSpec asserts the same shape)
    "signature_index_probe" -> ((s: SparkSession, d: String) => {
      val docs = graft.ops.Tables.table(s, d, "documents")
      val existing = docs.where(col("doc_id") % 5 =!= 0)
      val newCrawl = docs.where(col("doc_id") % 5 === 0)
      Seq("sig_idx_plans_b", "sig_idx_plans_s").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)
        if (loc.exists()) graft.ops.LocalFiles.deleteRecursively(loc.getPath)
      }
      graft.ops.Dedup.writeSignatureIndex(existing, "doc_id", "text",
        "sig_idx_plans_b", "sig_idx_plans_s", numBuckets = 8)
      graft.ops.Dedup.crossCorpusJaccardPairsFromIndex(s,
        "sig_idx_plans_b", "sig_idx_plans_s", newCrawl, existing,
        "doc_id", "text", threshold = 0.5, materialize = false)
    })) ++
    // the maintained views' ADVANCE plans ([[GraphState.plan]], the
    // surface GraphStateSpec audits), dumped where every other
    // operator's plan lives. Checkpoints: scans are the state pair +
    // the (checkpointed) delta only — never raw history — with the
    // edge table broadcast-PROBED (one scan, no exchange on it) on the
    // fresh-delta check.
    Seq(("triangle_advance_plan", "plans_tri", Triangles),
        ("kcore_advance_plan", "plans_kc", KCore(20)),
        ("comm_advance_plan", "plans_cm", Communities(2)),
        ("anf_advance_plan", "plans_anf", Anf(2))).map { case (plan, pair, view) =>
      plan -> ((s: SparkSession, d: String) => {
        def pairsOf(pred: Column => Column) =
          graft.ops.Graph.coOrderEdges(graft.ops.Tables.table(s, d, "lineitem")
            .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey"))))
        GraphState.init(s, pair, view, pairsOf(ok => ok % 3 =!= 0), "src", "dst")
        GraphState.plan(s, pair, view, pairsOf(ok => ok % 3 === 0), "src", "dst")._2
      })
    }
}
