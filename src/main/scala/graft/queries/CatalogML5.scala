package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Behavior, TextOps, TimeSeries, Warehouse}
import graft.ops.Tables._

/** Round-9 behavioral/warehouse extensions — the q16x family (cont.):
  * collocation mining, mojibake repair, trailing time-range windows,
  * funnel + retention-cohort analytics over the event stream, and
  * SCD2 history build + point-in-time lookup. These are the
  * downstream-consumer queries of exactly the per-key ordered change
  * feed the reference brokers (lagom-kinesis
  * KinesisSubscriberActor.scala:176-207 delivers it; none of this
  * analysis exists there). Bench reports them under the q16x rollup
  * key — per-entry numbers via SPARK_GRAFT_ONLY=q163,…
  */
object CatalogML5 {
  type Q = (SparkSession, String) => DataFrame

  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  def entries: Seq[(String, Q, Option[String])] = Seq(

    // Corpus collocations by PMI — the phrase detector behind
    // tokenizer-vocab prep. Every ln term is the portable integer-ln
    // of an exact count in one fixed tree order, so the score column
    // itself is ORDER BY-able cross-engine (the q87/q118 discipline).
    ("q163_text_collocations_pmi", (s: SparkSession, d: String) => {
      TextOps.collocationsPmi(table(s, d, "documents"), "text",
        minCount = 5L, k = 50)
    }, Some(TextOps.collocationsPmiSql(
      "SELECT doc_id AS id, text FROM documents", minCount = 5L, k = 50))),

    // Mojibake (encoding-damage) detection + repair — crawl text
    // arrives with UTF-8-read-as-Latin-1 double-encoding artifacts;
    // the repairable markers map back deterministically, U+FFFD is
    // counted but never invented back. Damage is INJECTED by both
    // engines from the same literals (the fixture has clean ASCII), so
    // counts, lengths, and the repaired digest replay bit-exactly.
    ("q164_text_mojibake_repair", (s: SparkSession, d: String) => {
      val dmg0 = when(col("doc_id") % 3 === 0,
          replace(replace(col("text"), lit("a"), lit(TextOps.MojiAcute)),
            lit("o"), lit(TextOps.MojiQuoteCp)))
        .otherwise(col("text"))
      val dmg = when(col("doc_id") % 7 === 0,
        concat(dmg0, lit(" �x�"))).otherwise(dmg0)
      table(s, d, "documents")
        .select(col("doc_id"), dmg.as("__d"))
        .select(col("doc_id"), col("__d"),
          TextOps.repairMojibake(col("__d")).as("__r"))
        .select(col("doc_id"),
          TextOps.mojibakeCount(col("__d")).cast("long").as("n_mojibake"),
          TextOps.replacementCharCount(col("__d")).cast("long").as("n_ufffd"),
          length(col("__d")).cast("long").as("len_damaged"),
          length(col("__r")).cast("long").as("len_repaired"),
          md5(col("__r")).as("repaired_md5"))
        .orderBy("doc_id")
    }, Some {
      val rep = TextOps.repairMojibakeSql("d")
      s"""WITH dmg AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0 THEN d0 || ' �x�'
         |              ELSE d0 END AS d
         |  FROM (
         |    SELECT doc_id,
         |           CASE WHEN doc_id % 3 = 0
         |             THEN replace(replace(text, 'a', '${TextOps.MojiAcute}'),
         |                          'o', '${TextOps.MojiQuoteCp}')
         |             ELSE text END AS d0
         |    FROM documents)
         |), rep AS (SELECT doc_id, d, $rep AS r FROM dmg)
         |SELECT doc_id,
         |       ${TextOps.mojibakeCountSql("d")} AS n_mojibake,
         |       CAST(len(regexp_extract_all(d, '�')) AS BIGINT)
         |         AS n_ufffd,
         |       CAST(length(d) AS BIGINT) AS len_damaged,
         |       CAST(length(r) AS BIGINT) AS len_repaired,
         |       md5(r) AS repaired_md5
         |FROM rep
         |ORDER BY doc_id""".stripMargin
    }),

    // Per-user trailing 1-hour RANGE window over the event stream —
    // the time-window sibling of q17's ROWS frames: the frame is "all
    // of this user's events in the last hour", however many rows that
    // is. Integer epoch-micros frame bounds + cents values ⇒ the
    // sliding accumulator replays exactly; equal instants are frame
    // peers on both engines.
    ("q165_events_rolling_range", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("event_id"),
        col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("value"))
      TimeSeries.rollingRange(ev, "user_id", col("ts"),
          floor(col("value") * 100), windowMicros = 3600L * 1000000L)
        .select(col("user_id"), col("event_id"), col("epoch_us"),
          col("trail_n"), col("trail_value"))
        .orderBy("user_id", "epoch_us", "event_id")
    }, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS epoch_us,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT user_id, event_id, epoch_us,
        |       CAST(count(*) OVER w AS BIGINT) AS trail_n,
        |       CAST(sum(cents) OVER w AS BIGINT) AS trail_value
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, epoch_us, event_id""".stripMargin)),

    // Ordered funnel over the event stream: strictly-ordered
    // signup → view → click → purchase chains, counted per user with
    // the min-ts cascade. Ratios are single IEEE divisions of exact
    // longs.
    ("q166_events_funnel", (s: SparkSession, d: String) => {
      Behavior.funnel(table(s, d, "events"), "user_id", col("ts"),
          "event_type", FunnelSteps)
        .orderBy("step_idx")
    }, Some(Behavior.funnelSql(
      "SELECT user_id AS u, ts, event_type AS typ FROM events",
      FunnelSteps) + "\nORDER BY step_idx")),

    // Retention-cohort matrix: users grouped by first-activity day,
    // counted on each later active day. Offset 0 equals cohort size by
    // construction (the spec invariant); the percentage is one IEEE
    // division of exact longs.
    ("q167_events_retention_cohorts", (s: SparkSession, d: String) => {
      Behavior.retentionCohorts(
          table(s, d, "events")
            .select(col("user_id"), col("ts").cast("timestamp").as("ts")),
          "user_id", col("ts"))
        .orderBy("cohort_day", "day_offset")
    }, Some(Behavior.retentionCohortsSql(
      "SELECT user_id AS u, ts FROM events") +
      "\nORDER BY cohort_day, day_offset")),

    // SCD2 dimension build from a changelog — the event stream as an
    // hour-grain entity-state feed (event_id = the per-key sequence
    // number, exactly the reference's per-shard sequence ordering
    // role): last-of-tick wins, heartbeats compress away, validity
    // intervals are half-open with version numbers from 1.
    ("q168_scd2_build", (s: SparkSession, d: String) => {
      val ch = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"),
        col("event_type").as("state"))
      Warehouse.scd2Build(ch, "user_id", date_trunc("hour", col("ts")),
          "event_id", Seq("state"))
        .orderBy("user_id", "version")
    }, Some("WITH " + Warehouse.scd2BuildSql(
      "SELECT user_id AS k, date_trunc('hour', ts) AS ts, " +
        "event_id AS seq, event_type AS state FROM events",
      Seq("state")) +
      """
        |SELECT k AS user_id, state, valid_from, valid_to, is_current,
        |       version
        |FROM scd2
        |ORDER BY user_id, version""".stripMargin)),

    // Point-in-time lookup: every event joined against the q168
    // history at its own timestamp — the temporal join a fact table
    // needs to see dimension state AS OF the fact. Disjoint validity
    // intervals ⇒ at most one match per fact; the left join keeps
    // facts with unknown state honest.
    ("q169_scd2_point_in_time", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("event_id"),
        col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
      val dim = Warehouse.scd2Build(
        ev.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("state")),
        "user_id", date_trunc("hour", col("ts")), "event_id",
        Seq("state"))
      val facts = ev.select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100).as("cents"))
      Warehouse.pointInTime(facts, "user_id", col("ts"), dim,
          "user_id", Seq("state"))
        .orderBy("event_id")
    }, Some("WITH " + Warehouse.scd2BuildSql(
      "SELECT user_id AS k, date_trunc('hour', ts) AS ts, " +
        "event_id AS seq, event_type AS state FROM events",
      Seq("state")) +
      """,
        |f AS (
        |  SELECT event_id, user_id, ts,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT f.event_id, f.user_id, f.ts, f.cents,
        |       s.valid_from, s.state
        |FROM f LEFT JOIN scd2 s
        |  ON s.k = f.user_id AND s.valid_from <= f.ts
        |     AND (s.valid_to IS NULL OR f.ts < s.valid_to)
        |ORDER BY event_id""".stripMargin)),

    // Gap-based sessionization (30-min timeout) reported at SESSION
    // grain — the tie-safe flag/cumsum construction makes the session
    // aggregate deterministic even under shared instants. The batch
    // complement of q127's streaming session-window merge.
    ("q170_events_sessionize", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("value"))
      Behavior.sessionize(ev, "user_id", col("ts"),
          floor(col("value") * 100), gapSeconds = 1800L)
        .orderBy("user_id", "session_id")
    }, Some(Behavior.sessionizeSql(
      "SELECT user_id AS u, epoch_us(ts) AS e, " +
        "CAST(floor(value * 100) AS BIGINT) AS c FROM events",
      gapSeconds = 1800L, keyAs = "user_id") +
      "\nORDER BY user_id, session_id")),

    // First-order Markov transition matrix over each user's ordered
    // event types — conditional next-event probabilities as single
    // IEEE divisions of exact longs; event_id breaks timestamp ties
    // into a total lag order.
    ("q171_events_transitions", (s: SparkSession, d: String) => {
      Behavior.eventTransitions(table(s, d, "events"), "user_id",
          col("ts"), "event_type", "event_id")
        .orderBy("src", "dst")
    }, Some(Behavior.eventTransitionsSql(
      "SELECT user_id AS u, ts, event_id AS seq, event_type AS typ " +
        "FROM events") + "\nORDER BY 1, 2")),

    // Trailing-window k-sigma anomaly flags with the division cleared
    // to exact integer window sums — (v·n−S)² > k²(n·SS−S²) — and the
    // overflow-prone squares in one fixed double tree, so the boolean
    // replays bit-exactly.
    ("q172_events_rolling_anomaly", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("event_id"),
        col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("value"))
      graft.ops.TimeSeries.rollingAnomaly(ev, "user_id", col("ts"),
          floor(col("value") * 100), windowMicros = 3600L * 1000000L,
          k = 2, minN = 5L)
        .select(col("user_id").as("u"), col("event_id"), col("epoch_us"),
          col("trail_n"), col("is_anomaly"))
        .orderBy("u", "epoch_us", "event_id")
    }, Some(graft.ops.TimeSeries.rollingAnomalySql(
      "SELECT user_id AS u, event_id, epoch_us(ts) AS epoch_us, " +
        "CAST(floor(value * 100) AS BIGINT) AS v FROM events",
      windowMicros = 3600L * 1000000L, k = 2, minN = 5L,
      extraCols = Seq("event_id")) +
      "\nORDER BY u, epoch_us, event_id")),

    // Daily activity report: DAU, first-ever-active new users, and the
    // exact cumulative distinct-user curve (running sum of new users —
    // first-day attribution makes it exact without a sketch).
    ("q173_events_active_users", (s: SparkSession, d: String) => {
      Behavior.activeUsersDaily(
          table(s, d, "events")
            .select(col("user_id"), col("ts").cast("timestamp").as("ts")),
          "user_id", col("ts"))
        .orderBy("day")
    }, Some(Behavior.activeUsersDailySql(
      "SELECT user_id AS u, ts FROM events") + "\nORDER BY day")),

    // Per-document TF-IDF keyword extraction — top-5 terms per doc;
    // idf is a DIFFERENCE of portable integer-ln terms of exact
    // counts, score one IEEE multiply, so the driver can hash the
    // score column itself.
    ("q174_text_tfidf_keywords", (s: SparkSession, d: String) => {
      graft.ops.Relevance.tfidfKeywords(
          table(s, d, "documents").withColumnRenamed("doc_id", "id"),
          "id", "text", k = 5)
        .orderBy("id", "rank")
    }, Some(graft.ops.Relevance.tfidfKeywordsSql(
      "SELECT doc_id AS id, text FROM documents", k = 5) +
      "\nORDER BY id, rank")),

    // CDC changelog apply (MERGE/upsert — the SCD1 complement of
    // q168's history): customer snapshot + an orders-derived I/U/D
    // feed; last-per-key wins via a map-side struct-max, one
    // full-outer key join, deletes drop even base rows.
    ("q175_cdc_apply", (s: SparkSession, d: String) => {
      val base = table(s, d, "customer").select(
        col("c_custkey").as("k"), col("c_name").as("name"),
        floor(col("c_acctbal") * 100).as("cents"))
      val changes = table(s, d, "orders").select(
        col("o_custkey").as("k"), col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "P", "D")
          .when(col("o_orderstatus") === "O", "I")
          .otherwise("U").as("op"),
        concat(lit("cust-"), col("o_custkey")).as("name"),
        floor(col("o_totalprice") * 100).as("cents"))
      Warehouse.applyChangelog(base, changes, "k", "seq", "op",
          Seq("name", "cents"))
        .orderBy("k")
    }, Some(Warehouse.applyChangelogSql(
      "SELECT c_custkey AS k, c_name AS name, " +
        "CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer",
      """SELECT o_custkey AS k, o_orderkey AS seq,
        |       CASE WHEN o_orderstatus = 'P' THEN 'D'
        |            WHEN o_orderstatus = 'O' THEN 'I'
        |            ELSE 'U' END AS op,
        |       'cust-' || o_custkey AS name,
        |       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders""".stripMargin,
      Seq("name", "cents")) + "\nORDER BY k")),

    // Two-proportion A/B significance over the event stream: variant
    // by user parity, conversion = did-purchase (exp1) / hit-error
    // (exp2); z² against the squared critical value clears the sqrt
    // portable arithmetic cannot take — every number one fixed IEEE
    // tree over exact long counts.
    ("q176_events_abtest", (s: SparkSession, d: String) => {
      val perUser = table(s, d, "events").groupBy(col("user_id"))
        .agg(
          max((col("event_type") === "purchase").cast("int")).as("__p"),
          max((col("event_type") === "error").cast("int")).as("__e"))
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      val exp1 = perUser.select(lit("exp1_purchase").as("exp"),
        col("variant"), (col("__p") === 1).as("conv"))
      val exp2 = perUser.select(lit("exp2_error").as("exp"),
        col("variant"), (col("__e") === 1).as("conv"))
      Behavior.abTest(exp1.unionAll(exp2), "exp", "variant", "conv")
        .orderBy("exp")
    }, Some(Behavior.abTestSql(
      """WITH u AS (
        |  SELECT user_id,
        |         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
        |           AS variant,
        |         max(CAST(event_type = 'purchase' AS INT)) = 1 AS convp,
        |         max(CAST(event_type = 'error' AS INT)) = 1 AS conve
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT 'exp1_purchase' AS exp, variant, convp AS conv FROM u
        |UNION ALL
        |SELECT 'exp2_error', variant, conve FROM u""".stripMargin) +
      "\nORDER BY exp")),

    // Funnel time-to-convert distribution: exact p25/50/90 latencies
    // (integer microseconds, counting-CDF — no sort) between the SAME
    // earliest completions q166 counted. Users who stall between
    // steps simply don't appear in that pair's distribution.
    ("q178_events_funnel_latency", (s: SparkSession, d: String) => {
      Behavior.funnelLatency(
          table(s, d, "events")
            .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
              col("event_type")),
          "user_id", col("ts"), "event_type", FunnelSteps,
          percents = Seq(25, 50, 90))
        .orderBy("step_pair", "pct")
    }, Some(Behavior.funnelLatencySql(
      "SELECT user_id AS u, ts, event_type AS typ FROM events",
      FunnelSteps, percents = Seq(25, 50, 90)) +
      "\nORDER BY step_pair, pct")),

    // Incremental SCD2 maintenance: the dimension built from the feed
    // BEFORE Jan 20 is advanced with the tail AFTER it — replaying the
    // touched keys' own change points plus the new tail through the
    // builder, untouched keys passing through verbatim. The oracle is
    // the FULL from-scratch rebuild: the incremental path must be
    // indistinguishable from never having split the feed. (Cut is
    // hour-ALIGNED so no tick spans the splice.)
    ("q179_scd2_incremental", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"),
        col("event_type").as("state"))
      val cut = lit("2024-01-20 00:00:00").cast("timestamp")
      val dim = Warehouse.scd2Build(ev.where(col("ts") < cut), "user_id",
        date_trunc("hour", col("ts")), "event_id", Seq("state"))
      Warehouse.scd2Apply(dim,
          ev.where(col("ts") >= cut)
            .select(col("user_id"),
              date_trunc("hour", col("ts")).as("__cts"),
              col("event_id"), col("state")),
          "user_id", col("__cts"), "event_id", Seq("state"))
        .orderBy("user_id", "version")
    }, Some("WITH " + Warehouse.scd2BuildSql(
      "SELECT user_id AS k, date_trunc('hour', ts) AS ts, " +
        "event_id AS seq, event_type AS state FROM events",
      Seq("state")) +
      """
        |SELECT k AS user_id, state, valid_from, valid_to, is_current,
        |       version
        |FROM scd2
        |ORDER BY user_id, version""".stripMargin)),

    // Event-family capstone: sessions (q170) enriched with the user's
    // SCD2 state AT SESSION START (q168 history + q169 temporal join),
    // reported per state — the "what were users doing, segmented by
    // what we knew about them at the time" readout, composed from the
    // three individually-oracled operators in one plan.
    ("q180_events_pipeline", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"),
        col("event_type"), col("value"))
      val dim = Warehouse.scd2Build(
        ev.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("state")),
        "user_id", date_trunc("hour", col("ts")), "event_id",
        Seq("state"))
      val sess = Behavior.sessionize(ev, "user_id", col("ts"),
        floor(col("value") * 100), gapSeconds = 1800L)
      val facts = sess.select(col("user_id"), col("session_id"),
        timestamp_micros(col("start_us")).as("sts"),
        col("duration_us"), col("n_events"), col("cents"))
      Warehouse.pointInTime(facts, "user_id", col("sts"), dim,
          "user_id", Seq("state"))
        .groupBy(coalesce(col("state"), lit("unknown"))
          .as("state_at_start"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("duration_us")).as("sum_duration_us"),
          sum(col("n_events")).as("sum_events"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("state_at_start")
    }, Some("WITH " + Warehouse.scd2BuildSql(
      "SELECT user_id AS k, date_trunc('hour', ts) AS ts, " +
        "event_id AS seq, event_type AS state FROM events",
      Seq("state")) + ",\n" +
      "sess AS (" + Behavior.sessionizeSql(
        "SELECT user_id AS u, epoch_us(ts) AS e, " +
          "CAST(floor(value * 100) AS BIGINT) AS c FROM events",
        gapSeconds = 1800L, keyAs = "user_id") + "),\n" +
      """f AS (
        |  SELECT user_id, make_timestamp(start_us) AS sts,
        |         duration_us, n_events, cents
        |  FROM sess
        |), e AS (
        |  SELECT f.*, s.state
        |  FROM f LEFT JOIN scd2 s
        |    ON s.k = f.user_id AND s.valid_from <= f.sts
        |       AND (s.valid_to IS NULL OR f.sts < s.valid_to)
        |)
        |SELECT coalesce(state, 'unknown') AS state_at_start,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(duration_us) AS BIGINT) AS sum_duration_us,
        |       CAST(sum(n_events) AS BIGINT) AS sum_events,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // Label-propagation communities over the symmetrized
    // customer↔supplier graph (q162's edge set): frequency voting
    // finds DENSE neighborhoods where hash-min CC (q161) finds only
    // reachability. Integer-only rounds ⇒ the full unrolled-CTE
    // differential oracle, no decimal machinery.
    ("q181_graph_label_prop", (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.purchaseEdges(table(s, d, "lineitem"),
        table(s, d, "orders"))
      graft.ops.Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .orderBy("node")
    }, Some(graft.ops.Graph.labelPropagationSql(
      graft.ops.Graph.purchaseEdgesSql(),
      iters = 3) + "\nORDER BY node")),

    // Behavior trigrams: the top-20 most frequent 3-step event paths —
    // the sequence readout q171's first-order matrix cannot express
    // (a Markov chain forgets; the path table does not).
    ("q182_events_paths", (s: SparkSession, d: String) => {
      Behavior.eventPaths(table(s, d, "events"), "user_id", col("ts"),
          "event_type", "event_id", k = 20)
    }, Some(Behavior.eventPathsSql(
      "SELECT user_id AS u, ts, event_id AS seq, event_type AS typ " +
        "FROM events", k = 20))),

    // Seasonal (dow × hour) activity heatmap — counts and cents into a
    // ≤168-row profile in one map-side-combined aggregate.
    ("q183_events_seasonal", (s: SparkSession, d: String) => {
      Behavior.seasonalProfile(
          table(s, d, "events")
            .select(col("ts").cast("timestamp").as("ts"), col("value")),
          col("ts"), floor(col("value") * 100))
        .orderBy("dow", "hod")
    }, Some(Behavior.seasonalProfileSql(
      "SELECT ts, CAST(floor(value * 100) AS BIGINT) AS c FROM events") +
      "\nORDER BY dow, hod")),

    // Flesch reading-ease over the q146 synthetic sentence derivation
    // (the fixture is unpunctuated word soup; every 7th word gets a
    // rotating terminal mark so the sentence term is real). Counts
    // exact, score one fixed IEEE tree — the readability gate beside
    // Gopher's structural rules.
    ("q184_text_readability", (s: SparkSession, d: String) => {
      val ts = split(col("text"), " ")
      val sentText = concat_ws(" ", transform(ts, (w, i) => {
        val pos = i + lit(1)
        val j = (pos.cast("double") / lit(7.0)).cast("int")
        val mark = when(pos % 7 === 0,
            when(j % 3 === 1, lit(".")).when(j % 3 === 2, lit("!"))
              .otherwise(lit("?")))
          .otherwise(lit(""))
        concat(w, mark)
      }))
      table(s, d, "documents")
        .select(col("doc_id"), sentText.as("__t"))
        .select(col("doc_id") +:
          TextOps.fleschReadingEase(col("__t")): _*)
        .orderBy("doc_id")
    }, Some {
      s"""WITH m AS (
         |  SELECT doc_id,
         |         array_to_string(list_transform(string_split(text, ' '),
         |           (w, i) -> CASE WHEN i % 7 = 0 THEN w ||
         |                CASE ((i // 7) % 3) WHEN 1 THEN '.'
         |                     WHEN 2 THEN '!' ELSE '?' END
         |              ELSE w END), ' ') AS t
         |  FROM documents
         |)
         |SELECT doc_id, ${TextOps.fleschReadingEaseSql("t")}
         |FROM m
         |ORDER BY doc_id""".stripMargin
    }),

    // Data-quality expectations audit — six promotion-gate rules over
    // orders⋈customer evaluated in ONE aggregation pass (a k-rule
    // audit must not cost k corpus scans), exploded to (rule, value,
    // pass) rows.
    ("q185_quality_audit", (s: SparkSession, d: String) => {
      val j = table(s, d, "orders")
        .withColumn("__od", col("o_orderdate").cast("timestamp"))
        .join(table(s, d, "customer")
            .select(col("c_custkey").as("__ck")),
          col("o_custkey") === col("__ck"), "left")
      val orphans = sum(col("__ck").isNull.cast("long"))
      val dupes = count(col("o_orderkey")) -
        countDistinct(col("o_orderkey"))
      val badStatus =
        sum((!col("o_orderstatus").isin("F", "O", "P")).cast("long"))
      val badDates = sum((col("__od") <
          lit("1995-01-01 00:00:00").cast("timestamp") ||
        col("__od") >= lit("2002-01-01 00:00:00").cast("timestamp"))
        .cast("long"))
      graft.ops.Profile.auditExpectations(j, Seq(
        ("custkey_fk_resolved", orphans, orphans === 0),
        ("date_in_range", badDates, badDates === 0),
        ("orderkey_unique", dupes, dupes === 0),
        ("rows_present", count(lit(1)), count(lit(1)) > 0),
        ("status_in_domain", badStatus, badStatus === 0),
        ("totalprice_positive", min(col("o_totalprice")),
          min(col("o_totalprice")) > 0.0)))
        .orderBy("rule")
    }, Some(
      """WITH j AS (
        |  SELECT o.*, c.c_custkey AS ck
        |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |), a AS (
        |  SELECT
        |    CAST(sum(CAST(ck IS NULL AS BIGINT)) AS DOUBLE) AS m0,
        |    sum(CAST(ck IS NULL AS BIGINT)) = 0 AS p0,
        |    CAST(sum(CAST(o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |      OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00'
        |      AS BIGINT)) AS DOUBLE) AS m1,
        |    sum(CAST(o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |      OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00'
        |      AS BIGINT)) = 0 AS p1,
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
        |      AS DOUBLE) AS m2,
        |    count(o_orderkey) - count(DISTINCT o_orderkey) = 0 AS p2,
        |    CAST(count(*) AS DOUBLE) AS m3,
        |    count(*) > 0 AS p3,
        |    CAST(sum(CAST(o_orderstatus NOT IN ('F', 'O', 'P')
        |      AS BIGINT)) AS DOUBLE) AS m4,
        |    sum(CAST(o_orderstatus NOT IN ('F', 'O', 'P')
        |      AS BIGINT)) = 0 AS p4,
        |    CAST(min(o_totalprice) AS DOUBLE) AS m5,
        |    min(o_totalprice) > 0.0 AS p5
        |  FROM j
        |)
        |SELECT * FROM (
        |  SELECT 'custkey_fk_resolved' AS rule, m0 AS value, p0 AS pass FROM a
        |  UNION ALL SELECT 'date_in_range', m1, p1 FROM a
        |  UNION ALL SELECT 'orderkey_unique', m2, p2 FROM a
        |  UNION ALL SELECT 'rows_present', m3, p3 FROM a
        |  UNION ALL SELECT 'status_in_domain', m4, p4 FROM a
        |  UNION ALL SELECT 'totalprice_positive', m5, p5 FROM a
        |)
        |ORDER BY rule""".stripMargin)),

    // RFM segmentation — quartiles of recency/frequency/monetary via
    // the counting-CDF thresholds (never an ntile over one global
    // partition) and integer threshold compares; segment = "rfm"
    // digit string.
    ("q186_events_rfm", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
      Behavior.rfmSegments(ev, "user_id", col("ts"),
          floor(col("value") * 100))
        .orderBy("user_id")
    }, Some(Behavior.rfmSegmentsSql(
      "SELECT user_id AS u, ts, CAST(floor(value * 100) AS BIGINT) AS c " +
        "FROM events", keyAs = "user_id") + "\nORDER BY user_id")),

    // WITHIN-SESSION funnel: the q166 cascade counted over
    // (user, session) — "converted in a single visit", the strictest
    // product-funnel reading. Session ids come from q170's tie-safe
    // tagging at EVENT grain (the per-row id is deterministic — see
    // withSessionIds); the funnel key is the composite user#session.
    ("q187_events_session_funnel", (s: SparkSession, d: String) => {
      val ev = table(s, d, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"))
      val tagged = Behavior.withSessionIds(ev, "user_id", col("ts"),
          gapSeconds = 1800L)
        .withColumn("skey",
          concat(col("user_id"), lit("#"), col("session_id")))
      Behavior.funnel(tagged, "skey", col("ts"), "event_type",
          FunnelSteps)
        .orderBy("step_idx")
    }, Some(Behavior.funnelSql(
      """WITH f AS (
        |  SELECT user_id, ts, event_type,
        |         CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts)
        |              > 1800000000
        |           OR lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) IS NULL
        |           AS BIGINT) AS nw
        |  FROM events
        |), sid AS (
        |  SELECT user_id, ts, event_type,
        |         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM f
        |)
        |SELECT CAST(user_id AS VARCHAR) || '#' ||
        |         CAST(session_id AS VARCHAR) AS u,
        |       ts, event_type AS typ
        |FROM sid""".stripMargin,
      FunnelSteps) + "\nORDER BY step_idx")),

    // Market-basket association pairs over orders×categories
    // (parts bucketed to 50 categories so co-occurrence is dense):
    // support/confidence/lift with APRIORI pruning before the
    // quadratic per-basket enumeration, top-25 by lift.
    ("q189_basket_lift", (s: SparkSession, d: String) => {
      val baskets = table(s, d, "lineitem")
        .select(col("l_orderkey").as("b"),
          (col("l_partkey") % 50).as("i"))
      Behavior.basketPairs(baskets, "b", "i", minSupport = 5L, k = 25)
    }, Some(Behavior.basketPairsSql(
      "SELECT l_orderkey AS b, l_partkey % 50 AS i FROM lineitem",
      minSupport = 5L, k = 25))),
  )
}
