package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Incremental, QuantileSketch}
import graft.ops.Tables._

/** Round-10 additions — the q19x family: the portable mergeable
  * quantile sketch over continuous double domains (the round-9
  * verdict's top ask) and its state-as-data maintenance composition.
  * Bench reports them under the q19x rollup key; per-entry numbers via
  * SPARK_GRAFT_ONLY=q190,…
  */
object CatalogML6 {
  type Q = (SparkSession, String) => DataFrame

  private val S = QuantileSketch.DefaultS
  private val RevenueSql =
    "SELECT l_returnflag AS g, l_extendedprice * (1.0 - l_discount) AS v FROM lineitem"

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // Percentiles of a CONTINUOUS double (per-line revenue — one IEEE
    // multiply, bit-identical cross-engine) via the HDR log-linear
    // register sketch: corpus → (group, bucket, cnt) in one map-side-
    // combined exchange, quantile walk over the register table only,
    // estimate = the decoded bucket lower edge with a GUARANTEED
    // < 2^-7 relative error. The oracle re-derives the register ids
    // arithmetically (log2 corrected by exact power-of-two compares —
    // no IEEE bit access in SQL) and replays the walk; matching hashes
    // prove both engines computed identical registers AND identical
    // decoded estimates.
    ("q190_quantile_sketch", (s: SparkSession, d: String) => {
      QuantileSketch.quantilesOf(
        spread(table(s, d, "lineitem"), "l_orderkey"), "l_returnflag",
        revenue, Seq(25, 50, 75, 95, 99), S)
        .orderBy("l_returnflag", "pct")
    }, Some(
      QuantileSketch.quantilesSql(
        QuantileSketch.sketchSql(RevenueSql, S),
        Seq(25, 50, 75, 95, 99), S, gAs = "l_returnflag") +
        "\nORDER BY l_returnflag, pct")),

    // Maintained percentile state: three epoch sketches folded into a
    // persisted register table via the generic monoid advance
    // (sum(cnt) per (group, bucket) — commutative, so epochs land in
    // any order), quantiles answered FROM THE STATE with no corpus
    // rescan. The oracle replays the from-scratch whole-corpus sketch:
    // equality IS the merge-equals-whole law, checked to the hash.
    ("q191_quantile_sketch_state", (s: SparkSession, d: String) => {
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q191_state_$tag"
      Incremental.dropStateTables(s, st)
      val li = table(s, d, "lineitem")
      QuantileSketch.sketch(li.where(expr("l_orderkey % 3 = 0")),
          "l_returnflag", revenue, S)
        .write.saveAsTable(st)
      for (m <- 1 to 2)
        Incremental.advanceStateTableBy(s, st,
          QuantileSketch.sketch(li.where(expr(s"l_orderkey % 3 = $m")),
            "l_returnflag", revenue, S),
          Seq("l_returnflag", "bucket"), QuantileSketch.mergeAggs)
      QuantileSketch.quantiles(s.table(st), "l_returnflag",
          Seq(50, 90, 99), S)
        .orderBy("l_returnflag", "pct")
    }, Some(
      QuantileSketch.quantilesSql(
        QuantileSketch.sketchSql(RevenueSql, S),
        Seq(50, 90, 99), S, gAs = "l_returnflag") +
        "\nORDER BY l_returnflag, pct")),

    // The documents-based sketch entry (rides the ScalingCurve
    // bijective-expansion harness, which only expands documents/
    // embeddings): per-language percentiles of average token length —
    // a QUOTIENT double (q32's proven-portable expression), i.e. a
    // genuinely continuous domain where the counting CDF would be
    // corpus-sized. Same register pipeline as q190.
    ("q192_quantile_sketch_docs", (s: SparkSession, d: String) => {
      val nTokens = size(split(trim(col("text")), "\\s+"))
      val v = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nTokens.cast("double")
      QuantileSketch.quantilesOf(
        spread(table(s, d, "documents"), "doc_id")
          .select(col("lang"), v.as("__v")),
        "lang", col("__v"), Seq(10, 50, 90), S)
        .orderBy("lang", "pct")
    }, Some(
      QuantileSketch.quantilesSql(
        QuantileSketch.sketchSql(
          "SELECT lang AS g, CAST(length(replace(text, ' ', '')) AS DOUBLE)" +
            " / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)" +
            " AS v FROM documents", S),
        Seq(10, 50, 90), S, gAs = "lang") +
        "\nORDER BY lang, pct")),

    // TRAINED language ID — multiclass hashed char-trigram NB replacing
    // the q39 stopword heuristic for orthographic signal. The fixture's
    // text is language-blind (same vocabulary for every lang), so the
    // query derives a realistic multilingual corpus by the q164
    // injection pattern (per-lang character translate from shared
    // literals, both engines), trains on the doc_id%5!=0 split, and
    // reports the held-out CONFUSION MATRIX. Train + score replay
    // verbatim in DuckDB (md5 buckets, integer-ln weights,
    // DECIMAL(38,12) sums, score-then-label argmax) — a fully-oracled
    // trained classifier, the q136 discipline at C classes.
    ("q194_langid_trained", (s: SparkSession, d: String) => {
      import graft.ops.{CachedFrames, Relevance, TextOps}
      val derived = table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.orthoInject(col("lang"), col("text")).as("__t"))
      // ONE gram explode for both legs (train + score read slices of
      // the same cached per-doc gram counts — bit-identical to the
      // direct entry points, ~halves the dominant explode+md5 cost)
      val grams = CachedFrames.cached(
        Relevance.nbDocGramCounts(derived, "doc_id", Seq("lang"), "__t"))
      val model = Relevance.nbMulticlassModelFromGrams(
        grams.where(col("doc_id") % 5 =!= 0), "lang",
        derived.where(col("doc_id") % 5 =!= 0).select("lang"))
      Relevance.nbClassifyFromGrams(
          grams.where(col("doc_id") % 5 === 0), "doc_id", model)
        .join(derived.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred")
    }, Some {
      val inject = graft.ops.TextOps.orthoInjectSql("lang", "text")
      s"""WITH base AS (
         |  SELECT doc_id, lang, $inject AS t FROM documents
         |), ${graft.ops.Relevance.nbTrainScoreSql("base",
             trainWhere = "doc_id % 5 <> 0", scoreWhere = "doc_id % 5 = 0")}
         |SELECT b.lang, best.pred, CAST(count(*) AS BIGINT) AS n_docs
         |FROM best JOIN (SELECT DISTINCT doc_id, lang FROM base) b
         |  USING (doc_id)
         |WHERE rn = 1
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin
    }),

    // The trained classifier COMPOSED into the corpus pipeline (the
    // q77 posture with the q194 model replacing the stopword
    // heuristic): inject → exact-dedup (q31's keep-min-id) → train on
    // the survivors' %5 split → classify EVERY survivor → per-predicted-
    // language report with a correctness column. Checks the stages
    // compose exactly, not just individually.
    ("q195_pipeline_langid_trained", (s: SparkSession, d: String) => {
      import graft.ops.{CachedFrames, Dedup, Relevance, TextOps}
      val derived = table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.orthoInject(col("lang"), col("text")).as("__t"))
      // survivors cached: the gram build, the prior rows, and the
      // final report join all read them (dedup is a corpus shuffle)
      val kept = CachedFrames.cached(
        Dedup.dropExactDuplicates(derived, "doc_id", "__t"))
      val grams = CachedFrames.cached(
        Relevance.nbDocGramCounts(kept, "doc_id", Seq("lang"), "__t"))
      val model = Relevance.nbMulticlassModelFromGrams(
        grams.where(col("doc_id") % 5 =!= 0), "lang",
        kept.where(col("doc_id") % 5 =!= 0).select("lang"))
      Relevance.nbClassifyFromGrams(grams, "doc_id", model)
        .join(kept.select(col("doc_id"), col("lang"), col("__t")),
          Seq("doc_id"))
        .groupBy(col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("lang") === col("pred")).cast("long")).as("n_correct"),
          sum(length(col("__t")).cast("long")).as("total_chars"))
        .orderBy("pred")
    }, Some {
      val inject = graft.ops.TextOps.orthoInjectSql("lang", "text")
      s"""WITH base AS (
         |  SELECT doc_id, lang, $inject AS t FROM documents
         |), kept AS (
         |  SELECT doc_id, lang, t FROM (
         |    SELECT b.*, min(doc_id) OVER (PARTITION BY md5(t)) AS kid
         |    FROM base b)
         |  WHERE doc_id = kid
         |), ${graft.ops.Relevance.nbTrainScoreSql("kept",
             trainWhere = "doc_id % 5 <> 0", scoreWhere = "")}
         |SELECT best.pred,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(k.lang = best.pred AS BIGINT)) AS BIGINT)
         |         AS n_correct,
         |       CAST(sum(len(k.t)) AS BIGINT) AS total_chars
         |FROM best JOIN kept k USING (doc_id)
         |WHERE rn = 1
         |GROUP BY 1
         |ORDER BY 1""".stripMargin
    }),

    // Daily activity with BOTH curves from one operator: q173's exact
    // DAU/new/cumulative (first-day attribution) joined with the
    // per-day portable-HLL estimate — the q158 register discipline as
    // a report column, i.e. the mergeable state a multi-source
    // deployment maintains without rescans, next to the exact answer
    // the analyst trusts. Estimates replay bit-exactly (md5 lanes,
    // integer harmonic sum, portable-ln linear counting).
    ("q196_dau_exact_and_sketch", (s: SparkSession, d: String) => {
      graft.ops.Behavior.activeUsersDailyWithSketch(
          table(s, d, "events"), "user_id", col("ts"))
        .orderBy("day")
    }, Some(
      graft.ops.Behavior.activeUsersDailyWithSketchSql(
        "SELECT user_id AS u, ts FROM events") +
        "\nORDER BY day")),

    // Audio/video CONTAINER header parse (WAV subchunk walk, ISO-BMFF
    // box walk — the q44 posture for the next multimodal column a
    // training pipeline meets). Payloads are REAL headers constructed
    // deterministically from per-row arithmetic (hex-built, unhex'd);
    // only Spark runs the byte-level parse, and the oracle states the
    // field values arithmetically — matching hashes prove the parser
    // recovered every field (endianness, subchunk offsets, box sizes)
    // from the bytes. Pixel/sample decode stays out of scope (no codec
    // libraries in this container), exactly as documented for images.
    ("q197_multimodal_av_headers", (s: SparkSession, d: String) => {
      import graft.ops.Multimodal
      import graft.ops.Multimodal.{be32Hex, le16Hex, le32Hex}
      val id = col("media_id")
      val base = spread(table(s, d, "events"), "event_id")
        .select(col("event_id").as("media_id"))
      val ch = (id % 3 + 1).cast("int")
      val rate = ((id % 5 + 1) * 8000).cast("int")
      val bits = ((id % 3 + 1) * 8).cast("int")
      val dlen = (id % 9000 + 1000).cast("int")
      val byteRate = (rate * ch * bits / lit(8)).cast("int")
      val block = (ch * bits / lit(8)).cast("int")
      val wavHex = concat(lit("52494646"), le32Hex(lit(36) + dlen),
        lit("57415645"), lit("666d7420"), le32Hex(lit(16)),
        le16Hex(lit(1)), le16Hex(ch), le32Hex(rate), le32Hex(byteRate),
        le16Hex(block), le16Hex(bits), lit("64617461"), le32Hex(dlen))
      val tsc = ((id % 4 + 1) * 600).cast("long")
      val dur = (id % 100000 + 1000).cast("long")
      val mp4Hex = concat(
        lit("00000014"), lit("66747970"), lit("69736f6d"),
        lit("00000000"), lit("6d703432"),
        lit("00000024"), lit("6d6f6f76"),
        lit("0000001c"), lit("6d766864"), lit("00000000"),
        lit("00000000"), lit("00000000"), be32Hex(tsc), be32Hex(dur))
      val payload = unhex(when(id % 2 === 0, wavHex).otherwise(mp4Hex))
      Multimodal.decodeAv(s, base.select(id, payload.as("bytes")))
        .toDF().orderBy("media_id")
    }, Some(
      """SELECT event_id AS media_id,
        |  CASE WHEN event_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS container,
        |  CASE WHEN event_id % 2 = 0
        |       THEN CAST(event_id % 3 + 1 AS INT) END AS channels,
        |  CASE WHEN event_id % 2 = 0
        |       THEN CAST((event_id % 5 + 1) * 8000 AS INT) END AS sample_rate,
        |  CASE WHEN event_id % 2 = 0
        |       THEN CAST((event_id % 3 + 1) * 8 AS INT) END AS bits,
        |  CASE WHEN event_id % 2 = 0
        |       THEN CAST(event_id % 9000 + 1000 AS BIGINT) END AS n_data,
        |  CASE WHEN event_id % 2 = 1 THEN 'isom' END AS brand,
        |  CASE WHEN event_id % 2 = 1
        |       THEN CAST((event_id % 4 + 1) * 600 AS BIGINT) END AS timescale,
        |  CASE WHEN event_id % 2 = 1
        |       THEN CAST(event_id % 100000 + 1000 AS BIGINT) END AS duration
        |FROM events
        |ORDER BY media_id""".stripMargin)),

    // Continuous-column profile: the describe() a double column never
    // had at corpus scale — exact n/min/max (IEEE comparisons, no
    // arithmetic) joined with the HDR-sketch percentiles, one report
    // row per group. The composition q190's registers exist for: the
    // counting CDF's (group, value) table would be corpus-sized here.
    ("q198_profile_continuous", (s: SparkSession, d: String) => {
      val li = spread(table(s, d, "lineitem"), "l_orderkey")
      val base = li.groupBy(col("l_returnflag"))
        .agg(count(revenue).as("n_rows"), min(revenue).as("vmin"),
          max(revenue).as("vmax"))
      val qs = QuantileSketch.quantilesOf(li, "l_returnflag", revenue,
          Seq(50, 95), S)
        .groupBy("l_returnflag").agg(
          min(when(col("pct") === 50, col("value"))).as("p50_sketch"),
          min(when(col("pct") === 95, col("value"))).as("p95_sketch"))
      base.join(qs, Seq("l_returnflag")).orderBy("l_returnflag")
    }, Some(
      s"""WITH base AS (
         |  SELECT l_returnflag,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         min(l_extendedprice * (1.0 - l_discount)) AS vmin,
         |         max(l_extendedprice * (1.0 - l_discount)) AS vmax
         |  FROM lineitem GROUP BY 1
         |), qs AS (
         |  SELECT l_returnflag,
         |         min(CASE WHEN pct = 50 THEN value END) AS p50_sketch,
         |         min(CASE WHEN pct = 95 THEN value END) AS p95_sketch
         |  FROM (${QuantileSketch.quantilesSql(
                     QuantileSketch.sketchSql(RevenueSql, S),
                     Seq(50, 95), S, gAs = "l_returnflag")})
         |  GROUP BY 1
         |)
         |SELECT base.l_returnflag, n_rows, vmin, vmax, p50_sketch, p95_sketch
         |FROM base JOIN qs ON qs.l_returnflag = base.l_returnflag
         |ORDER BY base.l_returnflag""".stripMargin)),

    // Kaplan–Meier churn curve over user lifetimes with right-censoring
    // (horizon 12 hours — sized so every fixture scale has real churn
    // AND real censoring; an empty curve is a dead gate): exact
    // integer risk-set/event counts, one IEEE
    // factor per step, and the cumulative product folded left in
    // ascending-t order by the identical array fold on both engines —
    // a fully-oracled survival estimator.
    ("q199_survival_churn", (s: SparkSession, d: String) => {
      graft.ops.Behavior.survivalCurve(
          table(s, d, "events"), "user_id",
          col("ts").cast("timestamp"), horizonHours = 12)
        .orderBy("t_days")
    }, Some(
      graft.ops.Behavior.survivalCurveSql(
        "SELECT user_id AS u, ts FROM events", horizonHours = 12) +
        "\nORDER BY t_days")),

    // STREAMING maintenance of the HDR percentile state — the q160
    // monoid-advance loop with the q190 registers as the state: three
    // arrival waves fold into a persisted (group, bucket, cnt) table
    // through CatalogStream.maintainEventState (one stage-and-swap per
    // wave; sum-merge is commutative so wave order is free), and the
    // report answers quantiles FROM THE STATE. Oracle: the from-scratch
    // whole-corpus sketch — merge-equals-whole, streamed.
    ("q200_stream_quantile_state", (s: SparkSession, d: String) => {
      val state = CatalogStream.maintainEventState(s, d, "q200")(
        QuantileSketch.sketch(_, "event_type", col("value"), S),
        (cur, w) => QuantileSketch.merge(Seq(cur, w), "event_type"))
      QuantileSketch.quantiles(state, "event_type", Seq(50, 90, 99), S)
        .orderBy("event_type", "pct")
    }, Some(
      QuantileSketch.quantilesSql(
        QuantileSketch.sketchSql(
          "SELECT event_type AS g, value AS v FROM events", S),
        Seq(50, 90, 99), S, gAs = "event_type") +
        "\nORDER BY event_type, pct")),

    // BITEMPORAL as-of: valid time = the event instant, transaction
    // time = valid + a deterministic recording lag (event_id % 48 h —
    // late corrections). The dual-axis lookup answers "what did we
    // KNOW at tx time T about the state valid at V" next to the
    // valid-only latest answer, with a `revised` flag marking keys
    // whose winner was recorded AFTER T — the reproducible-snapshot
    // property. The tx cutoff sits 1% of the span past the valid
    // cutoff, well inside the 48 h lag ceiling, so the flag provably
    // fires on every fixture scale.
    ("q201_bitemporal_asof", (s: SparkSession, d: String) => {
      import graft.ops.Warehouse
      val ch = table(s, d, "events").select(col("user_id").as("k"),
        unix_micros(col("ts").cast("timestamp")).as("vt"),
        (unix_micros(col("ts").cast("timestamp")) +
          (col("event_id") % 48) * 3600000000L).as("tt"),
        col("event_id").as("seq"), col("event_type").as("state"))
      val mm = ch.agg(min("vt"), max("vt")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val asVt = mn + (mx - mn) * 70 / 100
      val asTt = mn + (mx - mn) * 71 / 100
      val bt = Warehouse.bitemporalAsOf(ch, "k", col("vt"), col("tt"),
        col("seq"), Seq("state"), lit(asVt), lit(asTt))
      val latest = Warehouse.bitemporalAsOf(ch, "k", col("vt"), col("tt"),
        col("seq"), Seq("state"), lit(asVt), lit(Long.MaxValue))
      bt.join(latest.select(col("k"), col("state").as("state_latest"),
          col("vt").as("__vtl")), Seq("k"))
        .select(col("k").as("user_id"), col("vt"), col("tt"), col("state"),
          col("state_latest"), (col("vt") =!= col("__vtl")).as("revised"))
        .orderBy("user_id")
    }, Some(
      """WITH ch AS (
        |  SELECT user_id AS k, epoch_us(ts) AS vt,
        |         epoch_us(ts) + (event_id % 48) * 3600000000 AS tt,
        |         event_id AS seq, event_type AS state
        |  FROM events
        |), p AS (SELECT min(vt) AS mn, max(vt) AS mx FROM ch),
        |a AS (
        |  SELECT mn + (mx - mn) * 70 // 100 AS avt,
        |         mn + (mx - mn) * 71 // 100 AS att
        |  FROM p
        |), bt AS (
        |  SELECT k, vt, tt, state FROM (
        |    SELECT ch.*,
        |           row_number() OVER (PARTITION BY k
        |             ORDER BY vt DESC, seq DESC) AS rn
        |    FROM ch CROSS JOIN a WHERE tt <= a.att AND vt <= a.avt)
        |  WHERE rn = 1
        |), nv AS (
        |  SELECT k, vt AS vtl, state AS state_latest FROM (
        |    SELECT ch.*,
        |           row_number() OVER (PARTITION BY k
        |             ORDER BY vt DESC, seq DESC) AS rn
        |    FROM ch CROSS JOIN a WHERE vt <= a.avt)
        |  WHERE rn = 1
        |)
        |SELECT bt.k AS user_id, bt.vt, bt.tt, bt.state, nv.state_latest,
        |       bt.vt <> nv.vtl AS revised
        |FROM bt JOIN nv ON nv.k = bt.k
        |ORDER BY user_id""".stripMargin)),

    // INCREMENTAL connected-components maintenance — the cluster-state
    // analog of the q138 index sync: the q71 near-dup labeling built
    // from HALF the mined pairs, then ADVANCED with the other half
    // (touched clusters contract to member→label stars; CC reruns over
    // stars + delta only — never the historical edge set). The oracle
    // is q71's from-scratch recursive-CTE closure over ALL pairs:
    // equality to the hash IS the incremental-equals-full law.
    ("q203_dedup_cc_incremental", (s: SparkSession, d: String) => {
      import graft.ops.Dedup
      val tag = Integer.toHexString(d.hashCode)
      val st = s"q203_cc_$tag"
      Incremental.dropStateTables(s, st)
      val pairs = Dedup.minhashJaccardPairs(
        table(s, d, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.7)
      val firstHalf = col("id_a") % 2 === 0
      Dedup.connectedComponents(pairs.where(firstHalf))
        .write.saveAsTable(st)
      Dedup.advanceCCStateTable(s, st, pairs.where(!firstHalf))
      s.table(st).orderBy("id")
    }, Some(
      s"""WITH RECURSIVE ${CatalogML.clusterCteSql()}
         |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id
         |ORDER BY id""".stripMargin)),

    // Snapshot export with a content manifest — the reproducible-
    // release integrity operator: the corpus lands as shard-
    // partitioned parquet and the manifest (per shard: row count + an
    // ORDER-FREE exact md5-lane-sum digest) is computed from the
    // READ-BACK data, certifying what reached storage. The oracle
    // derives the same digests from the SOURCE table: equal hashes
    // prove the write+read round-trip was faithful row-for-row AND
    // that the digest arithmetic is engine-portable (commutative
    // DECIMAL sums — partitioning/order cannot move it).
    ("q204_snapshot_manifest", (s: SparkSession, d: String) => {
      import graft.ops.Layout
      val out = new java.io.File(
        graft.ops.LocalFiles.processScratchDir("snapshot"),
        "q204-" + Integer.toHexString(d.hashCode)).getAbsolutePath
      Layout.writeSnapshotWithManifest(
          table(s, d, "documents"), col("doc_id") % 8,
          b => concat_ws("\u0001", b("doc_id"), b("lang"), b("source"),
            b("n_chars"), b("text")),
          out)
        .orderBy("shard")
    }, Some(
      s"""SELECT CAST(doc_id % 8 AS INT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       ${graft.ops.Layout.snapshotDigestSql(
                   "concat_ws(chr(1), doc_id, lang, source, n_chars, text)")}
         |         AS digest
         |FROM documents
         |GROUP BY 1
         |ORDER BY 1""".stripMargin)),

    // The MATERIALIZED bitemporal table behind q201's point lookup:
    // one rectangle per (key, tx interval, valid interval), the
    // valid-history inside each tx interval rebuilt from exactly the
    // assertions recorded by then (the prefix explosion — per-key
    // O(assertions x tx points), the honest cost of materializing
    // every history the warehouse ever believed; the user subset
    // bounds the fixture-side blowup). The oracle replays the same
    // prefix join + tick-final + lead windows; a rectangle
    // containment lookup in this table answers any q201 as-of
    // (BehaviorWarehouseSpec proves the equivalence on probes).
    ("q205_bitemporal_table", (s: SparkSession, d: String) => {
      import graft.ops.Warehouse
      val ch = table(s, d, "events").where(col("user_id") % 7 === 0)
        .select(col("user_id").as("k"),
          unix_micros(col("ts").cast("timestamp")).as("vt"),
          (unix_micros(col("ts").cast("timestamp")) +
            (col("event_id") % 48) * 3600000000L).as("tt"),
          col("event_id").as("seq"), col("event_type").as("state"))
      Warehouse.bitemporalTable(ch, "k", col("vt"), col("tt"),
          col("seq"), Seq("state"))
        .select(col("k").as("user_id"), col("state"), col("valid_from"),
          col("valid_to"), col("tx_from"), col("tx_to"), col("version"))
        .orderBy("user_id", "tx_from", "version")
    }, Some(
      graft.ops.Warehouse.bitemporalTableSql(
        """SELECT user_id AS k, epoch_us(ts) AS vt,
          |       epoch_us(ts) + (event_id % 48) * 3600000000 AS tt,
          |       event_id AS seq, event_type AS state
          |FROM events WHERE user_id % 7 = 0""".stripMargin,
        Seq("state"), keyAs = "user_id") +
        "\nORDER BY user_id, tx_from, version"))
  )
}
