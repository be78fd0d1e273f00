package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._

/** Round-14 additions: incremental k-core maintenance, the HyperANF
  * neighborhood function, WordPiece encoding (the third production
  * tokenizer family), and the EXIF/TIFF tag walk. Bench reports them
  * under the q23x rollup key; per-entry numbers via
  * SPARK_GRAFT_ONLY=q231,…
  */
object CatalogML10 {
  type Q = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // INCREMENTAL k-core maintenance (round-13 verdict #2): q223
    // re-peels from scratch per crawl; here the stabilized survivor
    // set advances with ONLY delta-touched work — semi-join frontier
    // expansion from the delta's non-core endpoints finds every
    // candidate joiner region (a joiner component must contain a
    // delta endpoint), a static-core-credit peel settles it, and
    // untouched survivors pass through byte-identical. The oracle is
    // the FULL fixed-point peel over the union (k=55 reaches its
    // fixed point in ≤2 rounds at every fixture scale; the unrolled
    // CTE runs 4) — incremental ≡ full, to the hash.
    ("q231_graph_kcore_incremental", (s: SparkSession, d: String) => {
      def pairsOf(pred: Column => Column) =
        graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
          .where(pred(col("l_orderkey"))))
      val base = pairsOf(ok => ok % 5 =!= 0)
      val delta = pairsOf(ok => ok % 5 === 0)
      // the maintained survivor set: the BASE graph's stabilized core
      // (kCoreFixedPoint peels until no edge is removed — a fixed
      // iters=9 run costs 4+ dead |E| rounds past the ≤5-round fixed
      // point; the count-guarded loop stops at stability). The base
      // peel is ~2/3 of this member's gate time and exists only
      // because the gate must CONSTRUCT the previous core — a real
      // maintenance loop reads it from state (q236/q237). PhaseTimer
      // splits it out as the `q231.base` member in BENCH_MEMBERS.json
      // (round-14 verdict #7).
      // cold-advance helper (round-15): the base peel and the advance
      // share ONE canonicalization of the base pair set (the two-call
      // shape re-ran the lineitem self-join + |E| distinct twice); the
      // peel still reports as the `q231.base` phase member
      graft.ops.Graph.advanceKCoreCold(base, "src", "dst", delta, k = 55)
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
      // assertFixedPoint: the Spark side peels to the TRUE fixed point,
      // so a fixture/scale where the peel outruns the unrolled depth
      // must fail LOUDLY (0 oracle rows) instead of silently blaming
      // the engine (ADVICE round 14)
      k = 55, iters = 4, nodeAs = "part_id",
      assertFixedPoint = true) + "\nORDER BY part_id")),

    // Neighborhood function (HyperANF) over the part–supplier
    // bipartite graph (round-13 verdict #4): per-node portable-HLL
    // registers of the ≤t-hop ball advanced 3 rounds by register
    // max-merge over edges — the distance-distribution signal beside
    // centrality and community. Registers are DATA (the q43/q158
    // posture), so the ENTIRE iterative run — init registers, each
    // round's edge merge, every estimate including the portable-ln
    // linear-counting branch — replays in the oracle as unrolled
    // register-arithmetic CTEs, bit-identical.
    ("q232_graph_neighborhood", (s: SparkSession, d: String) => {
      val edges = table(s, d, "lineitem")
        .where(col("l_partkey") % 3 === 0)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000000L).as("dst"))
      graft.ops.Graph.neighborhoodFunction(edges, "src", "dst", iters = 3)
        .orderBy("node", "t")
    }, Some(graft.ops.Graph.neighborhoodFunctionSql(
      """p AS (
        |  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS a,
        |         CAST(l_suppkey + 1000000000 AS BIGINT) AS b
        |  FROM lineitem WHERE l_partkey % 3 = 0),
        |e AS (SELECT a AS src, b AS dst FROM p
        |      UNION ALL SELECT b, a FROM p)""".stripMargin,
      iters = 3) + "\nORDER BY node, t")),

    // WordPiece encode — the third production tokenizer family beside
    // BPE (q116/q140) and unigram-LM (q226/q227): a two-role
    // (initial vs ## continuation) substring-frequency vocabulary is
    // TRAINED on the documents corpus, then part names segment by
    // greedy longest-match-first with whole-word [UNK] on failure —
    // the cross-domain shape that keeps the [UNK] path live (part
    // names carry letters the documents vocabulary never saw). One
    // compiled reference-object node per output (the BpeEncodeMerges
    // shape); the oracle replays the ENTIRE run — vocabulary count
    // and every greedy step — as unrolled per-step CTEs, pure
    // integer/string arithmetic, to the hash.
    ("q233_wordpiece_encode", (s: SparkSession, d: String) => {
      val vocab = graft.ops.WordPiece.learn(
        table(s, d, "documents").select(col("text")), "text",
        maxPieceLen = 4, maxWordLen = 12, minCount = 2)
      graft.ops.WordPiece.tokenStats(table(s, d, "part"), "p_partkey",
          "p_name", vocab)
        .orderBy("p_partkey")
    }, Some(graft.ops.WordPiece.wordPieceSql(
      vocabWordsCte =
        """dw AS (
          |  SELECT unnest(list_transform(string_split_regex(trim(text), '\s+'),
          |                               x -> lower(x))) AS word
          |  FROM documents
          |),
          |words AS MATERIALIZED (
          |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM dw
          |  WHERE len(word) BETWEEN 1 AND 12 GROUP BY 1
          |)""".stripMargin,
      targetWordsCte =
        """pw AS (
          |  SELECT DISTINCT word FROM (
          |    SELECT unnest(list_transform(string_split_regex(trim(p_name), '\s+'),
          |                                 x -> lower(x))) AS word
          |    FROM part)
          |  WHERE len(word) >= 1
          |)""".stripMargin,
      maxPieceLen = 4, maxWordLen = 12, minCount = 2,
      tail =
        """,
          |partw AS (
          |  SELECT p_partkey, word FROM (
          |    SELECT p_partkey,
          |           unnest(list_transform(string_split_regex(trim(p_name), '\s+'),
          |                                 x -> lower(x))) AS word
          |    FROM part)
          |  WHERE len(word) >= 1
          |)
          |, pagg AS (
          |  SELECT pr.p_partkey,
          |         CAST(sum(t.toks) AS BIGINT) AS toks,
          |         CAST(sum(t.bad) AS BIGINT) AS bad
          |  FROM partw pr JOIN wtok t ON t.word = pr.word
          |  GROUP BY 1
          |)
          |-- driven from part with a LEFT JOIN (not an inner join on the
          |-- word table): a blank/whitespace-only p_name contributes no
          |-- partw row, but the Spark side (WordPiece.tokenStats) still
          |-- emits (p_partkey, 0, 0) for it — both sides must agree on
          |-- zero-word rows even though TPC-H names never exercise them
          |SELECT p.p_partkey,
          |       CAST(COALESCE(a.toks, 0) AS BIGINT) AS n_pieces,
          |       CAST(COALESCE(a.bad, 0) AS BIGINT) AS n_unk
          |FROM part p LEFT JOIN pagg a ON a.p_partkey = p.p_partkey
          |ORDER BY 1""".stripMargin))),

    // EXIF/TIFF tag walk (round-13 verdict #6 — q222 finished video;
    // crawled image corpora filter on EXIF): deterministic baseline
    // TIFFs — real header + IFD0 entry tables, BOTH byte orders —
    // hex-built from per-row arithmetic, then Multimodal.exifTags
    // runs the byte-level walk and the oracle restates every field
    // from the same generation arithmetic. Variant coverage rides the
    // id: id%2 picks II/MM, id%7==0 stores width as SHORT instead of
    // LONG (left-justified value field), id%5==0 omits DateTime
    // (NULL), id%3==0 carries a GPS IFD pointer (the PII flag),
    // orientation cycles all 8 spec values.
    ("q234_exif_tags", (s: SparkSession, d: String) => {
      import graft.ops.Multimodal
      import graft.ops.Multimodal.{be16Hex, be32Hex, le16Hex, le32Hex}
      val id = col("media_id")
      val base = spread(
        table(s, d, "events").where(col("event_id") % 13 === 5), "event_id")
        .select(col("event_id").as("media_id"))
      val le = id % 2 === 0
      def u16h(v: Column) = when(le, le16Hex(v)).otherwise(be16Hex(v))
      def u32h(v: Column) = when(le, le32Hex(v)).otherwise(be32Hex(v))
      val width = (id % 1000 + 100).cast("int")
      val widthShort = id % 7 === 0
      val height = (id % 800 + 50).cast("int")
      val orient = (id % 8 + 1).cast("int")
      val hasDt = id % 5 =!= 0
      val hasGps = id % 3 === 0
      val n = (lit(3) + when(hasDt, 1).otherwise(0) +
        when(hasGps, 1).otherwise(0)).cast("int")
      val dtOff = (lit(8 + 2 + 4) + n * 12).cast("int")
      val gpsOff = (dtOff + when(hasDt, 20).otherwise(0)).cast("int")
      def entry(tag: Int, typ: Column, cnt: Int, field: Column) =
        concat(u16h(lit(tag)), u16h(typ), u32h(lit(cnt)), field)
      val widthField = when(widthShort, concat(u16h(width), lit("0000")))
        .otherwise(u32h(width))
      val entries = concat(
        entry(0x0100, when(widthShort, lit(3)).otherwise(lit(4)), 1, widthField),
        entry(0x0101, lit(4), 1, u32h(height)),
        entry(0x0112, lit(3), 1, concat(u16h(orient), lit("0000"))),
        when(hasDt, entry(0x0132, lit(2), 20, u32h(dtOff))).otherwise(lit("")),
        when(hasGps, entry(0x8825, lit(4), 1, u32h(gpsOff))).otherwise(lit("")))
      val dtStr = format_string("%04d:%02d:%02d %02d:%02d:%02d",
        (id % 25 + 2000).cast("int"), (id % 12 + 1).cast("int"),
        (id % 28 + 1).cast("int"), (id % 24).cast("int"),
        (id % 60).cast("int"), (id * 7 % 60).cast("int"))
      val header = when(le, concat(lit("49492a00"), le32Hex(lit(8))))
        .otherwise(concat(lit("4d4d002a"), be32Hex(lit(8))))
      val fileHex = concat(header, u16h(n), entries, lit("00000000"),
        when(hasDt, concat(hex(dtStr), lit("00"))).otherwise(lit("")),
        when(hasGps, u16h(lit(0))).otherwise(lit("")))
      Multimodal.exifTags(s, base.select(id, unhex(fileHex).as("bytes")))
        .toDF().orderBy("media_id")
    }, Some(
      """SELECT event_id AS media_id,
        |       CASE WHEN event_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |       CAST(event_id % 1000 + 100 AS BIGINT) AS width,
        |       CAST(event_id % 800 + 50 AS BIGINT) AS height,
        |       CAST(event_id % 8 + 1 AS BIGINT) AS orientation,
        |       CASE WHEN event_id % 5 = 0 THEN NULL
        |            ELSE printf('%04d:%02d:%02d %02d:%02d:%02d',
        |                        event_id % 25 + 2000, event_id % 12 + 1,
        |                        event_id % 28 + 1, event_id % 24,
        |                        event_id % 60, (event_id * 7) % 60)
        |       END AS datetime,
        |       (event_id % 3 = 0) AS has_gps
        |FROM events WHERE event_id % 13 = 5
        |ORDER BY media_id""".stripMargin)),

    // Incremental PageRank warm-start (round-13 verdict stretch #9):
    // after a crawl delta lands, the power iteration restarts from the
    // PREVIOUS rank vector instead of uniform — fewer rounds to the
    // same fixed point (SCALING.md, "PageRank warm-start: measured
    // rounds saved"). The unrolled oracle replays the ENTIRE two-phase
    // history: 2 cold rounds on the base graph, then 2 warm rounds on
    // base ∪ delta seeded from the cold result (new nodes enter at
    // 1/N) — every quantized term bit-identical.
    ("q235_graph_pagerank_warm", (s: SparkSession, d: String) => {
      def sym(pred: Column => Column) = {
        val p = graft.ops.Graph.coOrderEdges(table(s, d, "lineitem")
          .where(col("l_partkey") % 3 === 0 && pred(col("l_orderkey")))).distinct()
        p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      }
      val cold = graft.ops.Graph.pageRank(
        sym(ok => ok % 5 =!= 0), "src", "dst", iters = 2)
      graft.ops.Graph.pageRankFrom(sym(_ => lit(true)), "src", "dst",
          cold.select(col("node"), col("rank")), iters = 2)
        .withColumnRenamed("node", "part_id")
        .orderBy("part_id")
    }, Some("SELECT node AS part_id, out_deg, rank FROM (\n" +
      graft.ops.Graph.pageRankWarmSql(
        baseEdgesCte =
          """pb AS (
            |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            |  FROM lineitem a
            |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            |   AND a.l_partkey < b.l_partkey
            |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
            |    AND a.l_orderkey % 5 <> 0),
            |eb AS (SELECT a AS src, b AS dst FROM pb
            |       UNION ALL SELECT b, a FROM pb)""".stripMargin,
        unionEdgesCte =
          """pu AS (
            |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            |  FROM lineitem a
            |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            |   AND a.l_partkey < b.l_partkey
            |  WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
            |e AS (SELECT a AS src, b AS dst FROM pu
            |      UNION ALL SELECT b, a FROM pu)""".stripMargin,
        coldIters = 2, warmIters = 2) + "\n) ORDER BY part_id")),
  )
}
