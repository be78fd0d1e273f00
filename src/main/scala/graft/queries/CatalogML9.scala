package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._

/** Round-13 additions: the MP4 per-sample table walk (finishing video
  * the way q216 finished audio), k-core decomposition and incremental
  * triangle maintenance for the graph family, and weighted PageRank
  * over the co-order multiplicity graph. Bench reports them under the
  * q22x rollup key; per-entry numbers via SPARK_GRAFT_ONLY=q222,…
  */
object CatalogML9 {
  type Q = (SparkSession, String) => DataFrame

  /** Length-prefixed BMFF box from a hex-string body column. */
  private def boxH(typ: String, body: Column): Column = {
    val t = typ.getBytes("US-ASCII").map("%02x".format(_)).mkString
    concat(graft.ops.Multimodal.be32Hex(
      ((length(body) + lit(16)) / lit(2)).cast("int")), lit(t), body)
  }

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // ISO BMFF sample tables decoded per sample (round-12 verdict #3):
    // deterministic MP4s — REAL length-prefixed box trees
    // (ftyp/moov/trak/mdia/minf/stbl with stts run-length deltas,
    // both stsz forms, stsc chunk runs, stco AND co64 offsets,
    // conditional stss, v0 AND v1 tkhd/mdhd) hex-built from per-row
    // arithmetic — then Multimodal.mp4SampleTable runs the byte-level
    // walk and the oracle restates every per-sample field (dts prefix
    // sums, chunk assignment, intra-chunk offsets, keyframe flags)
    // from the same generation arithmetic: matching hashes prove the
    // walk decoded every table. Variant coverage rides the id
    // arithmetic: id%2 picks v0/v1 box versions + handler, id%3 the
    // fixed-vs-table stsz form, id%5 stco-vs-co64 (co64 offsets pushed
    // past 2^32 so the 64-bit path is load-bearing), id%4==1 omits
    // stss (spec default: every sample a keyframe), id%6==0 carries a
    // run-length ctts (pts = dts + composition offset; absent ctts →
    // pts = dts).
    ("q222_mp4_sample_table", (s: SparkSession, d: String) => {
      import graft.ops.Multimodal
      import graft.ops.Multimodal.{be32Hex, be64Hex}
      val id = col("media_id")
      val base = spread(
        table(s, d, "events").where(col("event_id") % 11 === 4), "event_id")
        .select(col("event_id").as("media_id"))
      val n = (id % 40 + 6).cast("int")
      val nRuns = ((n + 3) / lit(4)).cast("int")
      val nCh = ((n + 2) / lit(3)).cast("int")
      val ts = (id % 100 + 600).cast("int")
      val trackId = (id % 7 + 1).cast("int")
      val v1 = id % 2 === 0
      val sttsBody = concat(lit("00000000"), be32Hex(nRuns),
        array_join(transform(sequence(lit(0), nRuns - 1), r => concat(
          be32Hex(least(lit(4), n - r * 4)),
          be32Hex(((id * 13 + r.cast("long") * 7) % 100 + 1).cast("int")))), ""))
      val fixedSz = (id % 20 + 8).cast("int")
      val szBody = when(id % 3 === 0,
        concat(lit("00000000"), be32Hex(fixedSz), be32Hex(n)))
        .otherwise(concat(lit("00000000"), be32Hex(lit(0)), be32Hex(n),
          array_join(transform(sequence(lit(0), n - 1), j =>
            be32Hex(((id * 17 + j.cast("long") * 11) % 50 + 1).cast("int"))), "")))
      val stscBody = concat(lit("00000000"), be32Hex(lit(1)),
        be32Hex(lit(1)), be32Hex(lit(3)), be32Hex(lit(1)))
      val coBody = when(id % 5 === 0,
        concat(lit("00000000"), be32Hex(nCh),
          array_join(transform(sequence(lit(0), nCh - 1), c =>
            be64Hex(id * 1000 + c.cast("long") * 997 + 4294967296L)), "")))
        .otherwise(concat(lit("00000000"), be32Hex(nCh),
          array_join(transform(sequence(lit(0), nCh - 1), c =>
            be32Hex((id * 1000 + c.cast("long") * 997).cast("int"))), "")))
      val coBox = when(id % 5 === 0, boxH("co64", coBody))
        .otherwise(boxH("stco", coBody))
      val nSync = ((n + 4) / lit(5)).cast("int")
      val stssBox = when(id % 4 === 1, lit(""))
        .otherwise(boxH("stss", concat(lit("00000000"), be32Hex(nSync),
          array_join(transform(sequence(lit(0), nSync - 1), k =>
            be32Hex(k * 5 + 1)), ""))))
      // composition offsets (pts = dts + offset) for id%6==0 media:
      // v0 ctts, runs of 2 samples, offset = ((id + r*3) % 5) * 10
      val nCtts = ((n + 1) / lit(2)).cast("int")
      val cttsBox = when(id % 6 =!= 0, lit(""))
        .otherwise(boxH("ctts", concat(lit("00000000"), be32Hex(nCtts),
          array_join(transform(sequence(lit(0), nCtts - 1), r => concat(
            be32Hex(least(lit(2), n - r * 2)),
            be32Hex((pmod(id + r.cast("long") * 3, lit(5L)) * 10)
              .cast("int")))), ""))))
      val stbl = boxH("stbl", concat(boxH("stts", sttsBody),
        boxH("stsz", szBody), boxH("stsc", stscBody), coBox, stssBox,
        cttsBox))
      val mdhd = when(v1,
        concat(lit("01000000"), lit("0" * 32), be32Hex(ts),
          lit("0" * 16)))
        .otherwise(concat(lit("00000000"), lit("0" * 16), be32Hex(ts),
          lit("00000000")))
      val tkhd = when(v1,
        concat(lit("01000007"), lit("0" * 32), be32Hex(trackId)))
        .otherwise(concat(lit("00000007"), lit("0" * 16), be32Hex(trackId)))
      val hdlr = concat(lit("00000000"), lit("00000000"),
        when(v1, lit("76696465")).otherwise(lit("736f756e")),
        lit("0" * 24), lit("00"))
      val mdia = boxH("mdia", concat(boxH("mdhd", mdhd),
        boxH("hdlr", hdlr), boxH("minf", stbl)))
      val trak = boxH("trak", concat(boxH("tkhd", tkhd), mdia))
      val mvhd = boxH("mvhd", concat(lit("00000000"), lit("0" * 16),
        be32Hex(lit(1000)), lit("00000000")))
      val ftyp = boxH("ftyp",
        lit("69736f6d" + "00000000" + "69736f6d"))
      val fileHex = concat(ftyp, boxH("moov", concat(mvhd, trak)))
      // materialize the decode once before the global sort (round-15):
      // the generate→decode chain is NARROW (zero shuffle), so the
      // sort's range-partitioner sampling pass re-executed the entire
      // hex build + byte walk a second time; truncating the lineage
      // makes the sampling read materialized blocks instead
      graft.ops.Checkpointing.truncate(
          Multimodal.mp4SampleTable(s, base.select(id, unhex(fileHex).as("bytes")))
            .toDF())
        .orderBy("media_id", "sample_n")
    }, Some(
      """WITH ids AS (
        |  SELECT event_id AS media_id FROM events WHERE event_id % 11 = 4
        |), par AS (
        |  SELECT media_id, media_id % 40 + 6 AS n FROM ids
        |), smp AS (
        |  SELECT media_id, n, j FROM par,
        |    LATERAL (SELECT unnest(range(0, n)) AS j)
        |), d AS (
        |  SELECT media_id, n, j,
        |         (media_id * 13 + (j // 4) * 7) % 100 + 1 AS delta,
        |         CASE WHEN media_id % 3 = 0 THEN media_id % 20 + 8
        |              ELSE (media_id * 17 + j * 11) % 50 + 1 END AS sz,
        |         j // 3 AS c0
        |  FROM smp
        |), w AS (
        |  SELECT media_id, n, j, sz, c0,
        |         COALESCE(SUM(delta) OVER (PARTITION BY media_id ORDER BY j
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dts,
        |         COALESCE(SUM(sz) OVER (PARTITION BY media_id, c0 ORDER BY j
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS intra
        |  FROM d
        |)
        |SELECT media_id,
        |       CAST(media_id % 7 + 1 AS BIGINT) AS track_id,
        |       CASE WHEN media_id % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
        |       CAST(media_id % 100 + 600 AS BIGINT) AS timescale,
        |       CAST(j + 1 AS INT) AS sample_n,
        |       CAST(dts AS BIGINT) AS dts,
        |       CAST(dts + CASE WHEN media_id % 6 = 0
        |                       THEN ((media_id + (j // 2) * 3) % 5) * 10
        |                       ELSE 0 END AS BIGINT) AS pts,
        |       CAST(sz AS BIGINT) AS size,
        |       CAST(c0 + 1 AS INT) AS chunk_n,
        |       CAST(media_id * 1000 + c0 * 997 +
        |            CASE WHEN media_id % 5 = 0 THEN 4294967296 ELSE 0 END +
        |            intra AS BIGINT) AS offset,
        |       (media_id % 4 = 1 OR j % 5 = 0) AS keyframe
        |FROM w
        |ORDER BY media_id, sample_n""".stripMargin)),

    // k-core decomposition over the co-order part graph — the graph
    // PRUNING companion to q217/q219/q220 (keep the dense core, drop
    // peripheral nodes): 5 synchronous peel rounds at k=70, a real
    // cascade at every fixture scale (sf0.01: 2000 → 1972 → 1971
    // fixed point; sf0.001: 200 → 185 → 177 → 169 → 153 → 123, still
    // peeling at round 5 — the fixed-iters contract measures the
    // PREFIX, which is exactly what the oracle replays); the
    // synchronous removal schedule is order-free, so the unrolled
    // CTE needs zero tie-breaking machinery.
    ("q223_graph_kcore", (s: SparkSession, d: String) => {
      val pairs = graft.ops.Graph.coOrderEdges(table(s, d, "lineitem"))
      graft.ops.Graph.kCore(pairs, "src", "dst", k = 70, iters = 5)
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some(graft.ops.Graph.kCoreSql(
      """p AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |e0 AS (SELECT a AS src, b AS dst FROM p
        |       UNION ALL SELECT b, a FROM p)""".stripMargin,
      k = 70, iters = 5, nodeAs = "part_id") + "\nORDER BY part_id")),

    // INCREMENTAL triangle maintenance (round-12 verdict #5): the
    // corpus graph grows per crawl — orders with l_orderkey % 5 = 0
    // arrive as the delta on top of the rest. Spark advances q220's
    // stats table with ONLY delta-touched wedge work
    // (Graph.advanceTriangleStats: candidate triangles enumerate from
    // the delta edges' endpoints, never the corpus pair set); the
    // oracle is the FULL re-count over the union — incremental ≡
    // full, to the hash, the q203/q179 differential posture.
    ("q224_graph_triangles_incremental", (s: SparkSession, d: String) => {
      def pairsOf(pred: Column => Column) =
        graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
          .where(pred(col("l_orderkey"))))
      val base = pairsOf(ok => ok % 5 =!= 0)
      val delta = pairsOf(ok => ok % 5 === 0)
      // cold-advance helper (round-15): ONE shared canonicalization of
      // base — the prev-stats + advance composition previously
      // re-executed the lineitem self-join and its |E| distinct twice
      graft.ops.Graph.advanceTriangleStatsCold(base, "src", "dst", delta)
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some(graft.ops.Graph.triangleStatsSql(
      """e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey)""".stripMargin,
      nodeAs = "part_id") + "\nORDER BY part_id")),

    // WEIGHTED PageRank over the co-order multiplicity graph (the
    // round-12 stretch #9): rank splits over out-edges ∝ edge weight
    // / weighted degree — centrality where q221 already clusters,
    // same DECIMAL(38,0) exact-sum round discipline, full unrolled
    // oracle. The weighted graph is q221's (symmetrized co-order
    // counts), 3 rounds.
    ("q225_graph_pagerank_weighted", (s: SparkSession, d: String) => {
      val pairs = graft.ops.Graph.coOrderEdges(table(s, d, "lineitem"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val edges = pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.ops.Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 3)
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some("SELECT node AS part_id, w_deg, rank FROM (\n" +
      graft.ops.Graph.pageRankWeightedSql(
        """p AS (
          |  SELECT a.l_partkey AS a, b.l_partkey AS b,
          |         CAST(count(*) AS BIGINT) AS w
          |  FROM lineitem a
          |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          |   AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2
          |),
          |e AS (SELECT a AS src, b AS dst, w FROM p
          |      UNION ALL SELECT b, a, w FROM p)""".stripMargin,
        iters = 3) + "\n) ORDER BY part_id")),

    // Triangle-stats RETRACTION — the deletion side of q224 (crawl
    // takedowns): co-order pairs whose supporting order slice is
    // revoked (l_orderkey % 7 = 0) retract from the stats table with
    // |D|-bounded wedge work over the PRE-removal adjacency; nodes
    // isolated by the removal leave the table. The oracle is the
    // full re-count over the remaining edge set (pall EXCEPT prem) —
    // retraction ≡ full, to the hash. Same mod-3 part slice as q228
    // so the base build stays cheap.
    ("q229_graph_triangles_retract", (s: SparkSession, d: String) => {
      def pairsOf(pred: Column => Column) =
        graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
          .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey"))))
      val all = pairsOf(_ => lit(true))
      val removed = pairsOf(ok => ok % 7 === 0)
      // cold-retract helper (round-15): one shared base
      // canonicalization, as in q224
      graft.ops.Graph.retractTriangleStatsCold(all, "src", "dst", removed)
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some(graft.ops.Graph.triangleStatsSql(
      """pall AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        |prem AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM lineitem a
        |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
        |    AND a.l_orderkey % 7 = 0),
        |e AS (SELECT a, b FROM pall EXCEPT SELECT a, b FROM prem)""".stripMargin,
      nodeAs = "part_id") + "\nORDER BY part_id")),

    // k-TRUSS decomposition — the edge-level pruning companion to
    // q223's k-core (an edge survives only while it closes >= k-2
    // triangles in the surviving subgraph; every k-truss edge is in
    // the (k-1)-core, never vice versa — the stronger community-core
    // filter). 4 synchronous edge-peel rounds at k=7 over a sparser
    // co-order slice (partkey % 3 = 0 — support is order-bounded, so
    // the slice peels dramatically: 13,322 → 4,281 → 571 → 170 → 168
    // edges at sf0.01). Spark enumerates each round's triangles by
    // the degree-oriented wedge join; the oracle counts the SAME
    // triangles per round by the plain a<b<c three-way join — the
    // q220 two-independent-algorithms posture applied inside an
    // iterative peel.
    ("q228_graph_ktruss", (s: SparkSession, d: String) => {
      val pairs = graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
        .where(col("l_partkey") % 3 === 0))
      graft.ops.Graph.kTruss(pairs, "src", "dst", k = 7, iters = 4)
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("support"))
        .orderBy("part_a", "part_b")
    }, Some("SELECT a AS part_a, b AS part_b, support FROM (\n" +
      graft.ops.Graph.kTrussSql(
        """p AS (
          |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          |  FROM lineitem a
          |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          |   AND a.l_partkey < b.l_partkey
          |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
          |e0 AS (SELECT a, b FROM p)""".stripMargin,
        k = 7, iters = 4) + "\n) ORDER BY part_a, part_b")),

    // Unigram-LM (SentencePiece-family) tokenizer TRAINING — the
    // round-12 stretch #8, the other production tokenizer family
    // beside q114/q116's BPE: substring seed vocabulary → 2
    // deterministic Viterbi-EM rounds (hard EM) → pruned piece table
    // with portable-ln log-prob scores. The ENTIRE iterative trainer
    // replays in the oracle (unrolled per-position DP + per-step
    // backtrack CTEs under bit-identical scores — the louvainSql
    // discipline applied to a dynamic program). Corpus = documents
    // text ∪ part names; the corpus is touched once (word count),
    // EM rounds run over the vocabulary-sized distinct-word table.
    ("q226_unigram_lm_train", (s: SparkSession, d: String) => {
      val corpus = table(s, d, "documents").select(col("text"))
        .unionAll(table(s, d, "part").select(col("p_name").as("text")))
      val vocab = graft.ops.Unigram.learn(corpus, "text",
        maxPieceLen = 3, maxWordLen = 10, vocabMulti = 40, emRounds = 2)
      import s.implicits._
      vocab.pieces.toDF("piece", "cnt", "score")
        .orderBy(col("cnt").desc, col("piece"))
    }, Some(graft.ops.Unigram.unigramSql(
      unigramWordsCte, maxPieceLen = 3, maxWordLen = 10, vocabMulti = 40,
      emRounds = 2,
      tail = "SELECT piece, cnt, score FROM uvocab ORDER BY cnt DESC, piece"))),

    // ... and the trained tokenizer APPLIED: per-document piece counts
    // under the q226 vocabulary via the compiled Viterbi expression
    // (one reference-object node in the scan's codegen stage — the
    // BpeEncodeMerges shape). The oracle segments the distinct word
    // table with the same final-score DP and joins counts back to the
    // documents — train + segment, both replayed.
    ("q227_unigram_lm_segment", (s: SparkSession, d: String) => {
      val corpus = table(s, d, "documents").select(col("text"))
        .unionAll(table(s, d, "part").select(col("p_name").as("text")))
      val vocab = graft.ops.Unigram.learn(corpus, "text",
        maxPieceLen = 3, maxWordLen = 10, vocabMulti = 40, emRounds = 2)
      graft.ops.Unigram.tokenCounts(table(s, d, "documents"), "doc_id",
          "text", vocab)
        .orderBy("doc_id")
    }, Some(graft.ops.Unigram.unigramSql(
      unigramWordsCte, maxPieceLen = 3, maxWordLen = 10, vocabMulti = 40,
      emRounds = 2,
      tail = """,
        |docw AS (
        |  SELECT doc_id,
        |         unnest(list_transform(string_split_regex(trim(text), '\s+'),
        |                               x -> lower(x))) AS word
        |  FROM documents
        |)
        |SELECT d.doc_id,
        |       CAST(COALESCE(SUM(t.toks), 0) AS BIGINT) AS n_pieces
        |FROM documents d
        |LEFT JOIN docw w ON w.doc_id = d.doc_id
        |LEFT JOIN utok t ON t.word = w.word
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin))),
  )

  /** The q226/q227 oracle word table: distinct lowercased words of the
    * union corpus, capped at the training domain's 10 chars. */
  private val unigramWordsCte: String =
    """wraw AS (
      |  SELECT unnest(list_transform(string_split_regex(trim(text), '\s+'),
      |                               x -> lower(x))) AS word
      |  FROM documents
      |  UNION ALL
      |  SELECT unnest(list_transform(string_split_regex(trim(p_name), '\s+'),
      |                               x -> lower(x))) AS word
      |  FROM part
      |),
      |words AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM wraw
      |  WHERE len(word) BETWEEN 1 AND 10 GROUP BY 1
      |)""".stripMargin
}
