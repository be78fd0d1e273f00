package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables._

/** Round-11 additions — the q20x-family continuation: the deep
  * multi-join relational stress query (TPC-H Q5 shape — the round-10
  * verdict's ask #4), ORC format breadth, and binary (image) near-dup
  * mining composed from the multimodal feature + LSH pieces. Bench
  * reports them under the q20x rollup key; per-entry numbers via
  * SPARK_GRAFT_ONLY=q206,…
  */
object CatalogML7 {
  type Q = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // Deep relational stress: the 6-table TPC-H Q5 join
    // (lineitem⋈orders⋈customer⋈supplier⋈nation⋈region) with the
    // local-supplier correlation (c_nationkey = s_nationkey), a date
    // window on orders, and a region filter — the catalog's join/agg
    // surface COMPOSED. Plan shape at scale: region+nation broadcast
    // (dimension-sized by construction), lineitem⋈orders⋈customer ride
    // key-hash exchanges (AQE free to convert the supplier side), every
    // dimension filter reaches its scan (PushedFilters in PLANS.md),
    // and the revenue aggregate is partial before the final |nations|
    // exchange. DECIMAL revenue (Tables.dsum) keeps the sum
    // order-independent and cross-engine exact.
    ("q206_join_deep_q5", (s: SparkSession, d: String) => {
      val li = table(s, d, "lineitem")
      val ord = table(s, d, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val cust = table(s, d, "customer")
      val supp = table(s, d, "supplier")
      val nat = table(s, d, "nation")
      val reg = table(s, d, "region").where(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("n_name"))
    }, Some(
      s"""SELECT n_name,
         |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
         |       CAST(count(*) AS BIGINT) AS n_lineitems
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate <  TIMESTAMP '1999-01-01'
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin)),

    // Format breadth: ORC round-trip (the q148 posture — Spark ships
    // the ORC source/sink natively; schema pinned both directions) plus
    // a parquet write→read leg, crossed against the parquet truth by
    // the same counts/sums/content-digest aggregate. A single corrupted
    // char, dropped row, or type coercion in either format pass fails
    // the hash. Scratch output is pid-keyed and shutdown-deleted.
    ("q207_orc_roundtrip", (s: SparkSession, d: String) => {
      val docs = spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val root = graft.ops.LocalFiles.processScratchDir("orcroundtrip") +
        "/" + Integer.toHexString(d.hashCode)
      docs.write.mode("overwrite").orc(s"$root/orc")
      docs.write.mode("overwrite").parquet(s"$root/parquet")
      val o = s.read.schema(docs.schema).orc(s"$root/orc")
        .withColumn("fmt", lit("orc"))
      val p = s.read.schema(docs.schema).parquet(s"$root/parquet")
        .withColumn("fmt", lit("parquet"))
      o.unionAll(p)
        .groupBy("fmt", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .orderBy("fmt", "lang")
    }, Some(
      """SELECT fmt, lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(text)) AS BIGINT) AS sum_text_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        |FROM documents, (SELECT unnest(['orc', 'parquet']) AS fmt)
        |GROUP BY fmt, lang
        |ORDER BY fmt, lang""".stripMargin)),

    // Binary (image) near-dup mining — the multimodal pieces COMPOSED:
    // media payloads → hashed byte-4-gram frequency signatures
    // (Multimodal.byteGramSignature — local patterns, not the global
    // nibble histogram, so distinct payloads are near-orthogonal) →
    // the q38 scale path (sign-LSH buckets + exact cosine verify,
    // size-gated bucket joins; at threshold 0.99 the per-true-pair LSH
    // miss probability is < 2e-6, so the exact all-pairs oracle still
    // applies). The whole feature derivation is hex-replayable: the
    // oracle recomputes every window hash, count, and cosine from
    // hex(encode(text)) arithmetic.
    ("q208_image_neardup", (s: SparkSession, d: String) => {
      import graft.ops.{Dedup, Multimodal}
      val docs = table(s, d, "documents")
      val media = Multimodal.mediaFromDocuments(
        spread(docs, "doc_id"), "doc_id", "text")
      val sig = Multimodal.byteGramSignature(media)
      Dedup.embeddingCosinePairsLsh(sig, "media_id", "signature", 0.99,
          dim = 64, expectedCount = docs.count())
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH m AS (
        |  SELECT doc_id AS media_id, upper(hex(encode(text))) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |), g AS (
        |  SELECT media_id,
        |         unnest(list_transform(generate_series(0, n // 4 - 1),
        |           k -> ((((('0x' || substring(hx,
        |                      CAST(k AS INTEGER) * 8 + 1, 8))::BIGINT
        |                    & 65535) * 2654435761 +
        |                   (('0x' || substring(hx,
        |                      CAST(k AS INTEGER) * 8 + 1, 8))::BIGINT
        |                    >> 16) * 2041643008) % 4294967296
        |                  * 64) >> 32))) AS b
        |  FROM m
        |), cnt AS (
        |  SELECT media_id, b, CAST(count(*) AS DOUBLE) AS c
        |  FROM g GROUP BY 1, 2
        |), grid AS (
        |  SELECT d.media_id, CAST(t.bb AS BIGINT) AS bb
        |  FROM (SELECT DISTINCT media_id FROM cnt) d, range(0, 64) t(bb)
        |), v AS (
        |  SELECT grid.media_id, list(coalesce(cnt.c, 0) ORDER BY grid.bb) AS f
        |  FROM grid LEFT JOIN cnt
        |    ON cnt.media_id = grid.media_id AND cnt.b = grid.bb
        |  GROUP BY grid.media_id
        |)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       list_cosine_similarity(a.f, b.f) AS cos
        |FROM v a JOIN v b ON a.media_id < b.media_id
        |WHERE list_cosine_similarity(a.f, b.f) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin)),

    // INCREMENTAL bitemporal maintenance — the warehouse family's
    // live-maintenance trio completed (SCD2 q179/q188, CDC q177,
    // bitemporal here): the q205 rectangle table built from the
    // even-seq half of the assertion stream, then ADVANCED with the
    // odd-seq half (delta appended to the assertion log, only touched
    // keys rebuilt, crash-safe rename-rename-drop swap). The oracle is
    // the from-scratch q205 build over ALL assertions: equality to the
    // hash IS the incremental-equals-full law. Key slice user_id%7=1
    // (disjoint from q205's %7=0 so the two entries prove different
    // data, same laws).
    ("q209_bitemporal_incremental", (s: SparkSession, d: String) => {
      import graft.ops.Warehouse
      val tag = Integer.toHexString(d.hashCode)
      val rt = s"q209_rect_$tag"
      val at = s"q209_assert_$tag"
      graft.ops.Incremental.dropStateTables(s, rt)
      graft.ops.Tables.dropTablesAndDirs(s, at)
      val ch = table(s, d, "events").where(col("user_id") % 7 === 1)
        .select(col("user_id").as("k"),
          unix_micros(col("ts").cast("timestamp")).as("vt"),
          (unix_micros(col("ts").cast("timestamp")) +
            (col("event_id") % 48) * 3600000000L).as("tt"),
          col("event_id").as("seq"), col("event_type").as("state"))
      val norm = Warehouse.normalizeAssertions(ch, "k", col("vt"),
        col("tt"), col("seq"), Seq("state"))
      norm.where(col("__seq") % 2 === 0).write.saveAsTable(at)
      Warehouse.bitemporalTable(s.table(at), "k", col("__vt"),
          col("__tt"), col("__seq"), Seq("state"))
        .write.saveAsTable(rt)
      Warehouse.advanceBitemporalTable(s, rt, at,
        norm.where(col("__seq") % 2 =!= 0), "k", Seq("state"))
      s.table(rt)
        .select(col("k").as("user_id"), col("state"), col("valid_from"),
          col("valid_to"), col("tx_from"), col("tx_to"), col("version"))
        .orderBy("user_id", "tx_from", "version")
    }, Some(
      graft.ops.Warehouse.bitemporalTableSql(
        """SELECT user_id AS k, epoch_us(ts) AS vt,
          |       epoch_us(ts) + (event_id % 48) * 3600000000 AS tt,
          |       event_id AS seq, event_type AS state
          |FROM events WHERE user_id % 7 = 1""".stripMargin,
        Seq("state"), keyAs = "user_id") +
        "\nORDER BY user_id, tx_from, version"))
    ,

    // The second deep-join stress shape (TPC-H Q8 — market share):
    // SEVEN base-table scans / 8-way join (part filter, both customer-
    // and supplier-side nation lookups against the same dimension,
    // region filter) with a conditional revenue aggregate per order
    // year — the one-nation market share inside a region's market.
    // nation joins broadcast EXPLICITLY twice under different aliases;
    // the share is a double division of two string-routed DECIMAL sums
    // (exact IEEE both engines).
    ("q210_join_market_share", (s: SparkSession, d: String) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val nat = table(s, d, "nation")
      table(s, d, "lineitem")
        .join(table(s, d, "part").where(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
          col("n_regionkey"))), col("c_nationkey") === col("cn_key"))
        .join(broadcast(table(s, d, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(dsum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0.0)), 6).as("target_rev"),
          dsum(rev, 6).as("total_rev"),
          count(lit(1)).as("n_lineitems"))
        .withColumn("mkt_share", col("target_rev") / col("total_rev"))
        .orderBy("o_year")
    }, Some(
      s"""SELECT o_year, target_rev, total_rev, n_lineitems,
         |       target_rev / total_rev AS mkt_share
         |FROM (
         |  SELECT year(o_orderdate) AS o_year,
         |         ${dsumSql("CASE WHEN sn.n_name = 'NATION_7' " +
                   "THEN l_extendedprice * (1.0 - l_discount) " +
                   "ELSE 0.0 END", 6)} AS target_rev,
         |         ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)}
         |           AS total_rev,
         |         CAST(count(*) AS BIGINT) AS n_lineitems
         |  FROM lineitem
         |  JOIN part     ON p_partkey = l_partkey AND p_type = 'PROMO'
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  GROUP BY 1)
         |ORDER BY o_year""".stripMargin))
    ,

    // BOUNDED-REGISTER quantile sketch — the resolution-collapse
    // variant closing the q190 family's one stated trade (HDR register
    // count grows with the data's dynamic range): each group's
    // registers collapse one resolution level at a time (pure id
    // shifts — exponent field and mantissa sub-bucket move together)
    // until they fit the budget, the chosen level is itself
    // deterministic, and the whole state INCLUDING the per-group
    // effective resolution replays in SQL. Domain: per-lang revenue-
    // like quotient over documents (q192's continuous double); budget
    // 24 registers forces real collapsing. rel err < 2^-s_eff,
    // reported per group.
    ("q213_quantile_sketch_bounded", (s: SparkSession, d: String) => {
      import graft.ops.QuantileSketch
      val nTokens = size(split(trim(col("text")), "\\s+"))
      val v = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nTokens.cast("double")
      QuantileSketch.quantilesBounded(
        QuantileSketch.sketchBounded(
          spread(table(s, d, "documents"), "doc_id")
            .select(col("lang"), v.as("__v")),
          "lang", col("__v"), maxRegisters = 24),
        "lang", Seq(10, 50, 90))
        .orderBy("lang", "pct")
    }, Some {
      import graft.ops.QuantileSketch
      "WITH " + QuantileSketch.sketchBoundedSql(
        "SELECT lang AS g, CAST(length(replace(text, ' ', '')) AS DOUBLE)" +
          " / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)" +
          " AS v FROM documents",
        QuantileSketch.DefaultS, maxRegisters = 24,
        maxLevels = QuantileSketch.DefaultS) + ",\n" +
        QuantileSketch.quantilesBoundedSql(Seq(10, 50, 90), gAs = "lang") +
        "\nORDER BY lang, pct"
    }),

    // The bounded sketch MAINTAINED as persisted state — the q191
    // pattern with the non-monoid-aggregate wrinkle the bounded
    // variant adds: epoch states may sit at DIFFERENT resolutions, so
    // the advance is a coarsen-to-min mergeBounded under the generic
    // transformStateTable swap (not a keyed sum). Shift composition
    // makes pairwise advances ≡ the all-at-once merge, which is what
    // the oracle replays (three epoch chains + one merge + the walk).
    ("q214_quantile_bounded_state", (s: SparkSession, d: String) => {
      import graft.ops.{Incremental, QuantileSketch}
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q214_state_$tag"
      Incremental.dropStateTables(s, st)
      val nTokens = size(split(trim(col("text")), "\\s+"))
      val v = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nTokens.cast("double")
      val src = spread(table(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("lang"), v.as("__v"))
      def epoch(m: Int) = QuantileSketch.sketchBounded(
        src.where(col("doc_id") % 3 === m), "lang", col("__v"),
        maxRegisters = 24)
      epoch(0).write.saveAsTable(st)
      for (m <- 1 to 2)
        Incremental.transformStateTable(s, st)(cur =>
          QuantileSketch.mergeBounded(Seq(cur, epoch(m)), "lang"))
      QuantileSketch.quantilesBounded(s.table(st), "lang", Seq(10, 50, 90))
        .orderBy("lang", "pct")
    }, Some {
      import graft.ops.QuantileSketch
      def raw(m: Int) =
        "SELECT lang AS g, CAST(length(replace(text, ' ', '')) AS DOUBLE)" +
          " / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)" +
          s" AS v FROM documents WHERE doc_id % 3 = $m"
      val chains = (0 to 2).map(m =>
        QuantileSketch.sketchBoundedSql(raw(m), QuantileSketch.DefaultS,
          maxRegisters = 24, maxLevels = QuantileSketch.DefaultS,
          prefix = s"__e${m}")).mkString(",\n")
      "WITH " + chains + ",\n" +
        QuantileSketch.mergeBoundedSql(Seq("__e0bs", "__e1bs", "__e2bs")) +
        ",\n" +
        QuantileSketch.quantilesBoundedSql(Seq(10, 50, 90), gAs = "lang") +
        "\nORDER BY lang, pct"
    })
  )
}
