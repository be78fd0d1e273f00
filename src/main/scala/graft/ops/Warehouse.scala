package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension maintenance — the warehouse layer between a
  * raw change feed and anything that asks "what was this entity's state
  * WHEN the fact happened": type-2 history build from a changelog, and
  * the point-in-time lookup that joins facts against that history.
  *
  * The reference (a Kinesis topic broker) moves exactly this kind of
  * entity-change feed (lagom-kinesis `Subscriber.atLeastOnce`,
  * KinesisSubscriberActor.scala:176-207 consumes an ordered per-key
  * change stream); building the queryable history from it is the
  * canonical downstream analytics step the broker itself never does.
  */
object Warehouse {

  /** Build a type-2 (validity-interval) dimension from a changelog.
    *
    * Semantics, in three window passes over ONE hash exchange on
    * `keyCol` (all three windows share the `(key, ts…)` sort order, so
    * Catalyst plans a single Exchange and a single Sort):
    *
    *   1. '''tick-final state''': within each `(key, ts)` tick, only
    *      the row with the highest `seqCol` survives — a feed can carry
    *      several updates with one effective timestamp (same-day
    *      corrections, batched upstream writes) and the LAST one is the
    *      tick's truth. `seqCol` must order updates within a tick
    *      (an offset / sequence number / monotone id — the reference's
    *      per-shard sequence number is exactly this).
    *   2. '''change-point compression''': a tick whose attributes all
    *      equal the previous tick's (null-safe, per attribute) opens no
    *      new version — SCD2 stores STATE CHANGES, not heartbeats. A
    *      revert (A → B → A) correctly yields three versions.
    *   3. '''validity intervals''': `valid_from` = the tick, `valid_to`
    *      = the NEXT change's tick (half-open `[from, to)`), null on the
    *      current version; `version` numbers a key's history from 1.
    *
    * Scale: the changelog shuffles once on `keyCol`; every window is
    * keyed, nothing is single-partition, and the output is
    * change-point-sized (≤ changelog, typically ≪). A key's whole
    * history must fit one task's sort buffer — true for any real
    * dimension (versions-per-entity is bounded); a key hot enough to
    * break that is a feed bug, not a layout choice.
    *
    * Returns `keyCol, attrCols…, valid_from, valid_to, is_current,
    * version`.
    */
  def scd2Build(changelog: DataFrame, keyCol: String, ts: Column,
                seqCol: String, attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "scd2Build needs at least one attribute")
    val k = col(keyCol)
    val tagged = changelog.select(
      k +: ts.as("__ts") +: col(seqCol).as("__seq") +:
        attrCols.map(col): _*)
    // Tick-final via a lag-run over the KEY-partitioned (ts asc, seq
    // desc) sort — not row_number over PARTITION BY (key, ts): the
    // (key, ts) partitioning can't serve the (key)-partitioned
    // history windows, so that formulation pays a SECOND full-corpus
    // exchange (plan-dump-verified). With the run detection all three
    // passes share hashpartitioning(key) and one sort — the later
    // ts-asc windows are satisfied by the (ts asc, seq desc) prefix.
    // (Trade-off: row_number's partial WindowGroupLimit would drop
    // same-tick extras before the shuffle; one whole exchange is the
    // bigger lever at corpus scale.)
    val tickRun = Window.partitionBy(k)
      .orderBy(col("__ts").asc, col("__seq").desc)
    val hist = Window.partitionBy(k).orderBy(col("__ts").asc)
    val lastOfTick = tagged
      .withColumn("__prevTs", lag(col("__ts"), 1).over(tickRun))
      .where(!(col("__prevTs") <=> col("__ts")))
      .drop("__prevTs")
    val changed = attrCols
      .map(a => !(col(a) <=> lag(col(a), 1).over(hist)))
      .reduce(_ || _) || lag(col("__ts"), 1).over(hist).isNull
    val changePoints = lastOfTick
      .withColumn("__chg", changed)
      .where(col("__chg"))
    changePoints.select(
      k +: attrCols.map(col) :+
        col("__ts").as("valid_from") :+
        lead(col("__ts"), 1).over(hist).as("valid_to") :+
        lead(col("__ts"), 1).over(hist).isNull.as("is_current") :+
        row_number().over(hist).cast("long").as("version"): _*)
  }

  /** Mirror of [[scd2Build]] for the DuckDB differential oracle: the
    * same three window passes, parameterized the same way.
    * `changelogSql` must select `k` (key), `ts`, `seq` and the
    * attribute columns under their output names. */
  def scd2BuildSql(changelogSql: String, attrCols: Seq[String]): String = {
    val attrs = attrCols.mkString(", ")
    val chg = attrCols
      .map(a => s"$a IS DISTINCT FROM lag($a) OVER (PARTITION BY k ORDER BY ts)")
      .mkString("(", " OR ", ")")
    s"""tick AS (
       |  SELECT k, ts, $attrs FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY k, ts ORDER BY seq DESC) AS rn
       |    FROM ($changelogSql))
       |  WHERE rn = 1
       |), cp AS (
       |  SELECT k, ts, $attrs FROM (
       |    SELECT *,
       |      ($chg OR lag(ts) OVER (PARTITION BY k ORDER BY ts) IS NULL)
       |        AS chg
       |    FROM tick)
       |  WHERE chg
       |), scd2 AS (
       |  SELECT k, $attrs, ts AS valid_from,
       |         lead(ts) OVER (PARTITION BY k ORDER BY ts) AS valid_to,
       |         lead(ts) OVER (PARTITION BY k ORDER BY ts) IS NULL
       |           AS is_current,
       |         CAST(row_number() OVER (PARTITION BY k ORDER BY ts)
       |           AS BIGINT) AS version
       |  FROM cp
       |)""".stripMargin
  }

  /** Incremental SCD2 maintenance: fold a NEW change tail into an
    * existing [[scd2Build]] dimension without the original changelog.
    *
    * Works because an SCD2 dimension IS its own change-point
    * changelog: replaying `(key, valid_from, attrs)` through
    * [[scd2Build]] reproduces the dimension exactly (change points
    * never compress against each other by construction). So the merge
    * is: keys untouched by the feed pass through verbatim; touched
    * keys rebuild from `their change points ∪ the new tail` — cost
    * O(touched slice + feed), NEVER the archived changelog.
    *
    * Contracts: the feed is in-order per key (every new change's tick
    * is ≥ the key's last `valid_from` — the reference's per-shard
    * ordering; an out-of-order tick would need the real changelog),
    * and feed `seqCol` values are ≥ 0 — replayed change points carry
    * negative sequence numbers (Long.MinValue + version) so a new
    * change LANDING ON the current version's tick wins tick-final.
    *
    * Scale: one semi + one anti key join against the feed's distinct
    * keys, then [[scd2Build]]'s single keyed exchange over the touched
    * slice only. Done ≡ full rebuild (the oracle and spec assert it).
    */
  def scd2Apply(dim: DataFrame, changes: DataFrame, keyCol: String,
                ts: Column, seqCol: String,
                attrCols: Seq[String]): DataFrame = {
    val keys = changes.select(col(keyCol)).distinct()
    val replay = dim.join(keys, Seq(keyCol), "left_semi")
      .select(col(keyCol) +: col("valid_from").as("__rts") +:
        (col("version") + lit(Long.MinValue)).as("__rseq") +:
        attrCols.map(col): _*)
    val fresh = changes.select(col(keyCol) +: ts.as("__rts") +:
      col(seqCol).cast("long").as("__rseq") +: attrCols.map(col): _*)
    val rebuilt = scd2Build(replay.unionAll(fresh), keyCol,
      col("__rts"), "__rseq", attrCols)
    dim.join(keys, Seq(keyCol), "left_anti")
      .select(rebuilt.columns.map(col).toIndexedSeq: _*)
      .unionAll(rebuilt)
  }

  /** CDC changelog apply (the MERGE/upsert shape — the SCD1 complement
    * of [[scd2Build]]'s full history): fold a change feed into a base
    * snapshot, producing the LATEST state per key.
    *
    * Per key, the change with the highest `seqCol` wins (`seqCol` must
    * be unique per key — the reference's per-shard sequence number is;
    * a tie would make the winner engine-dependent): op `D` deletes
    * the key (even if present in base), anything else (`I`/`U`) upserts
    * the change's attributes; keys untouched by the feed keep their
    * base row. Exactly the compaction a per-key ordered topic feed
    * (the reference's delivery model) needs to become a queryable
    * table.
    *
    * Scale: the feed reduces to one winner per key via a struct-max
    * aggregate — `max(struct(seq, op, attrs…))` orders by seq first, so
    * the reduction is map-side combinable and NEVER sorts the feed —
    * then one key-keyed full-outer join against base. No windows, no
    * global sort; output ≤ |base| + |feed keys|.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame, keyCol: String,
                     seqCol: String, opCol: String,
                     attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "applyChangelog needs at least one attribute")
    val k = col(keyCol)
    val last = changes
      .groupBy(k)
      .agg(max(struct(col(seqCol).as("__seq") +: col(opCol).as("__op") +:
        attrCols.map(col): _*)).as("__last"))
      .select(k +: col("__last.__op").as("__op") +:
        attrCols.map(a => col(s"__last.$a").as(s"__c_$a")): _*)
    base.join(last, Seq(keyCol), "full_outer")
      .where(col("__op").isNull || col("__op") =!= "D")
      .select(k +: attrCols.map(a =>
        when(col("__op").isNotNull, col(s"__c_$a"))
          .otherwise(col(a)).as(a)): _*)
  }

  /** Mirror of [[applyChangelog]] for the DuckDB oracle: the winner via
    * row_number over (key, seq desc) — same total order as the
    * struct-max because seq is the leading field. `baseSql` must select
    * `k` + the attributes; `changesSql` must select `k, seq, op` + the
    * attributes. */
  def applyChangelogSql(baseSql: String, changesSql: String,
                        attrCols: Seq[String]): String = {
    val attrs = attrCols.mkString(", ")
    val picked = attrCols
      .map(a => s"CASE WHEN l.op IS NOT NULL THEN l.$a ELSE b.$a END AS $a")
      .mkString(",\n       ")
    s"""WITH b AS ($baseSql),
       |l AS (
       |  SELECT k, op, $attrs FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY k ORDER BY seq DESC) AS rn
       |    FROM ($changesSql))
       |  WHERE rn = 1
       |)
       |SELECT coalesce(b.k, l.k) AS k,
       |       $picked
       |FROM b FULL OUTER JOIN l ON l.k = b.k
       |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin
  }

  /** Point-in-time (temporal) lookup: for each fact, the dimension
    * version whose half-open validity interval `[valid_from, valid_to)`
    * contains the fact's timestamp.
    *
    * A fact earlier than the key's first version (or with no dimension
    * key at all) keeps null attributes — the left join is the honest
    * answer for "state unknown at that time", and it is what lets the
    * caller audit feed lag instead of silently dropping facts.
    *
    * Plan shape: an equi-join on the key with the interval predicate as
    * a post-join filter — both sides hash-shuffle on the key (the
    * dimension is entity-count-sized, the facts corpus-sized; never
    * broadcast the FACTS). By the SCD2 invariant a key's intervals are
    * disjoint, so each fact matches AT MOST one version and the join
    * cannot fan out.
    */
  def pointInTime(facts: DataFrame, factKey: String, factTs: Column,
                  dim: DataFrame, dimKey: String,
                  attrCols: Seq[String]): DataFrame = {
    val d = dim.select(
      col(dimKey).as("__dk") +: col("valid_from") +: col("valid_to") +:
        attrCols.map(col): _*)
    facts.join(d,
        col(factKey) === col("__dk") &&
          col("valid_from") <= factTs &&
          (col("valid_to").isNull || factTs < col("valid_to")),
        "left")
      .drop("__dk", "valid_to")
  }

  /** BITEMPORAL as-of: the dual-axis point-in-time lookup over an
    * assertion log carrying both VALID time (when the state held in
    * reality) and TRANSACTION time (when the warehouse recorded it).
    * "What did we KNOW at tx time T about the state valid at time V" —
    * the question audits and reproducible-training-snapshot builds ask
    * when corrections arrive late: a record asserting an old valid
    * instant lands with a newer transaction stamp, and a query pinned
    * to an earlier T must NOT see it (that is precisely how a training
    * run stays reproducible against a warehouse that keeps learning).
    *
    * Per key: among assertions with `tt ≤ asOfTt` AND `vt ≤ asOfVt`,
    * the winner under the (vt, seq) total order — seq (the per-key
    * delivery sequence, the reference's ordering contract) breaks
    * same-instant ties deterministically. Keys with no qualifying
    * assertion emit no row.
    *
    * Scale: the filters cut BEFORE the one key-partitioned window;
    * everything is key-cardinality-sized after it. Returns
    * (keyCol, vt, tt, stateCols…). */
  def bitemporalAsOf(changes: DataFrame, keyCol: String, vt: Column,
                     tt: Column, seq: Column, stateCols: Seq[String],
                     asOfVt: Column, asOfTt: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__vt").desc, col("__seq").desc)
    changes
      .select(col(keyCol) +: vt.as("__vt") +: tt.as("__tt") +:
        seq.as("__seq") +: stateCols.map(col): _*)
      .where(col("__tt") <= asOfTt && col("__vt") <= asOfVt)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(keyCol) +: col("__vt").as("vt") +: col("__tt").as("tt") +:
        stateCols.map(col): _*)
  }

  /** MATERIALIZED bitemporal table — the full two-axis history behind
    * [[bitemporalAsOf]]'s point lookup: one rectangle per (key,
    * transaction interval, valid interval), where the valid-time
    * history inside tx interval [tᵢ, tᵢ₊₁) is the SCD2 build over
    * exactly the assertions RECORDED by tᵢ. Every as-of question
    * becomes a rectangle containment test, and an audit can diff what
    * the warehouse believed across any two transaction instants.
    *
    * Construction: per key, the tx change points are the distinct
    * recording stamps; each assertion joins every point at-or-after
    * its recording (the PREFIX explosion — per-key cost
    * O(assertions × tx points), the honest envelope of materializing
    * n valid-histories; per-key change counts are small in real
    * dimensions, and the [[bitemporalAsOf]] lookup needs none of
    * this), then per (key, point): tick-final dedup on (vt, seq) and
    * the lead-window valid intervals — the q168 build scoped to the
    * prefix. All windows are keyed by (key) or (key, point); nothing
    * is ever single-partition.
    *
    * Hot-key guard: one heavily-corrected entity would make a single
    * task quadratic SILENTLY, so a key with more than
    * `maxAssertionsPerKey` assertions fails loudly with an error
    * NAMING the key (the guard rides the same key-hash exchange the
    * construction already pays and lives in the value path, so the
    * optimizer cannot prune it). Callers with a genuinely hot key
    * raise the cap consciously — or bucket its transaction axis
    * upstream, the documented beyond path.
    *
    * Returns (keyCol, stateCols…, valid_from, valid_to, tx_from,
    * tx_to, version) — valid_to/tx_to null on the open edge.
    * Adjacent tx intervals with identical valid-histories are NOT
    * coalesced (each tx point opens a rectangle row even when nothing
    * changed for some valid range) — the uncoalesced form is what
    * makes the construction, the oracle, and the containment lookup
    * all window-local. */
  def bitemporalTable(changes: DataFrame, keyCol: String, vt: Column,
                      tt: Column, seq: Column,
                      stateCols: Seq[String],
                      maxAssertionsPerKey: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch0 = changes.select(col(keyCol) +: vt.as("__vt") +: tt.as("__tt") +:
      seq.as("__seq") +: stateCols.map(col): _*)
    // hot-key guard (contract above): exact per-key count over the
    // key partition, enforced inside __vt's value path
    val vtType = ch0.schema("__vt").dataType
    val guardW = Window.partitionBy(col(keyCol))
    val ch = ch0
      .withColumn("__na", count(lit(1)).over(guardW))
      .withColumn("__vt",
        when(col("__na") <= lit(maxAssertionsPerKey.toLong), col("__vt"))
          .otherwise(raise_error(concat(
            lit("bitemporalTable: key "), col(keyCol).cast("string"),
            lit(" carries "), col("__na").cast("string"),
            lit(s" assertions > maxAssertionsPerKey=$maxAssertionsPerKey — "
              + "the prefix materialization would make one task quadratic; "
              + "raise the cap or bucket the transaction axis"))).cast(vtType)))
      .drop("__na")
    val txw = Window.partitionBy(col(keyCol)).orderBy(col("__ti"))
    val pts = ch.select(col(keyCol), col("__tt").as("__ti")).distinct()
      .withColumn("__txTo", lead(col("__ti"), 1).over(txw))
    val pfx = ch.join(pts, Seq(keyCol)).where(col("__tt") <= col("__ti"))
    val tickW = Window.partitionBy(col(keyCol), col("__ti"), col("__vt"))
      .orderBy(col("__seq").desc)
    val vw = Window.partitionBy(col(keyCol), col("__ti")).orderBy(col("__vt"))
    pfx
      .withColumn("__rn", row_number().over(tickW))
      .where(col("__rn") === 1)
      .select(col(keyCol) +: stateCols.map(col) ++: Seq(
        col("__vt").as("valid_from"),
        lead(col("__vt"), 1).over(vw).as("valid_to"),
        col("__ti").as("tx_from"),
        col("__txTo").as("tx_to"),
        row_number().over(vw).as("version")): _*)
  }

  /** Normalize an assertion stream to the storable log schema
    * (keyCol, __vt, __tt, __seq, stateCols…) — what the bitemporal
    * assertion-log table holds and [[advanceBitemporalTable]] appends. */
  def normalizeAssertions(changes: DataFrame, keyCol: String, vt: Column,
                          tt: Column, seq: Column,
                          stateCols: Seq[String]): DataFrame =
    changes.select(col(keyCol) +: vt.as("__vt") +: tt.as("__tt") +:
      seq.as("__seq") +: stateCols.map(col): _*)

  /** INCREMENTAL maintenance of a [[bitemporalTable]] — the q179/q203
    * advance pattern applied to the two-axis history, completing the
    * warehouse family's live-maintenance trio (SCD2 q179/q188, CDC
    * q177, bitemporal here): new assertions are APPENDED to the
    * assertion-log table (`assertTable`, [[normalizeAssertions]]
    * schema — the append-only log every bitemporal warehouse already
    * keeps), only the keys the delta TOUCHES are rebuilt from the log
    * (other keys' assertions are never read past the key filter), and
    * the rectangle table swaps crash-safely
    * ([[Incremental.transformStateTable]]'s stage-then-rename-rename-
    * drop) to untouched-rows ∪ rebuilt. Incremental ≡ full rebuild by
    * construction — a key's rectangles depend only on its own
    * assertions — which is exactly what the differential oracle
    * checks. Touched-key joins are size-gated
    * ([[Dedup.maybeBroadcast]]): a wide delta falls back to shuffle
    * semi/anti joins instead of a forced broadcast.
    *
    * RETRY safety: the whole advance is idempotent, not just the
    * rectangle swap. A crash between the log append and the swap
    * leaves the log already holding (part of) this delta; a naive
    * re-append would duplicate those assertions and the duplicates
    * would shift version numbering in every later rebuild of the
    * touched keys. The append therefore anti-joins the delta against
    * the existing log on (key, __seq) — assertion sequence numbers
    * are unique per key by the bitemporal contract (they ORDER the
    * assertions; a duplicate (key, seq) is ambiguous input) — so a
    * replayed advance appends only the rows the crashed run missed
    * and then redoes the (idempotent) touched-key rebuild + swap.
    * The dedup scan is touched-key-restricted: the log is read past
    * the key filter only for keys the rebuild reads anyway. */
  def advanceBitemporalTable(spark: SparkSession, rectTable: String,
                             assertTable: String, delta: DataFrame,
                             keyCol: String, stateCols: Seq[String],
                             maxAssertionsPerKey: Int = 100000): Unit = {
    // the delta is read twice (append + touched set) and its lineage
    // may be a full pipeline — materialize once
    val d0 = Checkpointing.truncate(delta)
    // bootstrap: a first advance against a not-yet-created assertion
    // log has nothing to dedup against — append the whole delta and
    // let saveAsTable create the table (the pre-r12 contract)
    if (!spark.catalog.tableExists(assertTable)) {
      d0.write.mode("append").saveAsTable(assertTable)
    } else {
      val touched0 = d0.select(keyCol).distinct()
      val nTouched0 = touched0.count()
      val alreadyLogged = spark.table(assertTable)
        .join(Dedup.maybeBroadcast(touched0, nTouched0), Seq(keyCol),
          "left_semi")
        .select(col(keyCol), col("__seq"))
      // truncate again so the append plan no longer reads assertTable
      // (materialized before the write ever opens the table for append)
      val fresh = Checkpointing.truncate(
        d0.join(alreadyLogged, Seq(keyCol, "__seq"), "left_anti"))
      fresh.write.mode("append").saveAsTable(assertTable)
    }
    val touched = d0.select(keyCol).distinct()
    val nTouched = touched.count()
    val rebuilt = bitemporalTable(
      spark.table(assertTable)
        .join(Dedup.maybeBroadcast(touched, nTouched), Seq(keyCol),
          "left_semi"),
      keyCol, col("__vt"), col("__tt"), col("__seq"), stateCols,
      maxAssertionsPerKey)
    Incremental.transformStateTable(spark, rectTable) { cur =>
      cur.join(Dedup.maybeBroadcast(touched, nTouched), Seq(keyCol),
          "left_anti")
        .unionByName(rebuilt)
    }
  }

  /** Mirror of [[bitemporalTable]] for the DuckDB oracle. `changesSql`
    * must select `k`, `vt`, `tt`, `seq` and the state columns. */
  def bitemporalTableSql(changesSql: String, stateCols: Seq[String],
                         keyAs: String = "k"): String = {
    val states = stateCols.mkString(", ")
    s"""WITH ch AS ($changesSql),
       |pts AS (
       |  SELECT k, ti,
       |         lead(ti) OVER (PARTITION BY k ORDER BY ti) AS tx_to
       |  FROM (SELECT DISTINCT k, tt AS ti FROM ch)
       |), pfx AS (
       |  SELECT ch.k, ch.vt, ch.seq, $states, pts.ti, pts.tx_to,
       |         row_number() OVER (PARTITION BY ch.k, pts.ti, ch.vt
       |           ORDER BY ch.seq DESC) AS rn
       |  FROM ch JOIN pts ON pts.k = ch.k AND ch.tt <= pts.ti
       |)
       |SELECT k AS $keyAs, $states,
       |       vt AS valid_from,
       |       lead(vt) OVER (PARTITION BY k, ti ORDER BY vt) AS valid_to,
       |       ti AS tx_from, tx_to,
       |       CAST(row_number() OVER (PARTITION BY k, ti ORDER BY vt)
       |         AS INT) AS version
       |FROM pfx WHERE rn = 1""".stripMargin
  }
}
