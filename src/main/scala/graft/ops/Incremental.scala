package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental aggregate maintenance — partial-aggregate state as
  * data.
  *
  * The 100 TB shape this exists for: a corpus-wide report (counts,
  * exact sums, min/max per group) must NOT rescan the corpus when a
  * day's delta lands. The classic answer is the same one Spark uses
  * INSIDE an aggregation (partial aggregates merged by a final pass),
  * lifted to storage: persist the per-group partial state, aggregate
  * only the delta, merge state-with-state. Every component here is a
  * commutative monoid — count (+), DECIMAL sum (+, exact and
  * order-free, see [[Tables.dsum]]), min, max — so merging is
  * associative: state(A ∪ B) = merge(state(A), state(B)) holds
  * bit-exactly, batches can land in any order, and a re-merge of N
  * epoch states equals the from-scratch aggregate. Averages are NOT
  * in the state (not a monoid); [[finish]] derives them at render
  * time from sum/count.
  *
  * Scale accounting: [[aggState]] over a delta is one map-side-
  * combined exchange of the DELTA only; [[mergeStates]] shuffles
  * group-cardinality rows (the state table), never corpus rows. The
  * state table is group-cardinality-sized — the thing you'd broadcast
  * if a join ever needed it.
  */
object Incremental {

  /** Per-group partial-aggregate state of `valueCol`:
    * (groupCols..., n, s DECIMAL, mn, mx). The DECIMAL sum stays a
    * DECIMAL in the state (exact, mergeable); only [[finish]] renders
    * it to a portable double. */
  def aggState(df: DataFrame, groupCols: Seq[String], valueCol: String,
               scale: Int = 2): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        sum(col(valueCol).cast(DecimalType(18, scale))).as("s"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Merge any number of compatible states into one (associative,
    * order-free). */
  def mergeStates(states: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "at least one state")
    states.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  /** Render a state to the report row: count, portable-double sum
    * (decimal→string→double, the [[Tables.dsum]] route), derived avg,
    * min, max. */
  def finish(state: DataFrame, groupCols: Seq[String]): DataFrame =
    state.select(
      groupCols.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        col("s").cast("string").cast("double").as("total"),
        (col("s").cast("string").cast("double") / col("n")).as("avg"),
        col("mn"), col("mx")): _*)

  /** Generic monoid-state merge: any state whose columns reduce by
    * commutative, associative aggregates (sum, min, max, bit_or, …)
    * merges the same way the built-in [[mergeStates]] does. `aggs`
    * must alias each output back to its state-column name. */
  def mergeStatesBy(states: Seq[DataFrame], keys: Seq[String],
                    aggs: Seq[Column]): DataFrame = {
    require(states.nonEmpty, "at least one state")
    require(aggs.nonEmpty, "at least one merge aggregate")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold a pre-aggregated delta STATE into a persisted state table
    * under an arbitrary monoid merge (stage-and-swap: the merged
    * state lands in a staging table first — Spark cannot overwrite a
    * table that feeds the running plan — then replaces the live one
    * via the rename dance of [[swapStaged]]; every crash window
    * leaves a state recoverable by [[recoverStateTable]], and in the
    * worst case the delta can simply be re-applied to the previous
    * snapshot). */
  def advanceStateTableBy(spark: SparkSession, stateTable: String,
                          deltaState: DataFrame, keys: Seq[String],
                          aggs: Seq[Column]): Unit =
    transformStateTable(spark, stateTable)(cur =>
      mergeStatesBy(Seq(cur, deltaState), keys, aggs))

  /** Stage-and-swap `stateTable` to the result of `next(current)` —
    * the generic (non-monoid) advance for state whose update is a
    * TRANSFORM of the current table (e.g. the CDC MERGE of
    * [[Warehouse.applyChangelog]]), not a keyed aggregate merge. The
    * staged write materializes fully BEFORE the live table is
    * touched, so a failed transform leaves the current state intact
    * (the same crash-safety order as [[advanceStateTableBy]]). */
  def transformStateTable(spark: SparkSession, stateTable: String)
                         (next: DataFrame => DataFrame): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${staged(stateTable)}")
    next(spark.table(stateTable)).write.saveAsTable(staged(stateTable))
    swapStaged(spark, stateTable)
  }

  /** The staging table an advance of `stateTable` writes before
    * [[swapStaged]] promotes it; `__old` ([[retired]]) holds the live
    * snapshot during the swap. Only this object builds these names. */
  private[ops] def staged(stateTable: String): String = s"${stateTable}__next"
  private def retired(stateTable: String): String = s"${stateTable}__old"

  /** Drop each state table, its staging and retired snapshots, and
    * their warehouse directories ([[Tables.dropTablesAndDirs]]). */
  private[graft] def dropStateTables(spark: SparkSession,
                                     stateTables: String*): Unit =
    Tables.dropTablesAndDirs(spark,
      stateTables.flatMap(t => Seq(t, staged(t), retired(t))): _*)

  /** Promote a fully-written `<stateTable>__next` staging table to
    * live: rename live → `__old`, rename `__next` → live, drop
    * `__old`. Unlike a drop-then-rename, NO crash window destroys
    * committed state — between the two renames the live NAME is
    * briefly absent (one catalog op wide) but both snapshots exist on
    * disk, and after any crash [[recoverStateTable]] can finish or
    * unwind the swap from what it finds. Concurrent readers of the
    * table NAME may still observe the one-op gap; point-in-time
    * readers should read a snapshot export, not the live name. */
  private[graft] def swapStaged(spark: SparkSession, stateTable: String): Unit = {
    val old = retired(stateTable)
    spark.sql(s"DROP TABLE IF EXISTS $old")
    spark.sql(s"ALTER TABLE $stateTable RENAME TO $old")
    spark.sql(s"ALTER TABLE ${staged(stateTable)} RENAME TO $stateTable")
    spark.sql(s"DROP TABLE $old")
  }

  /** Detect and resolve an interrupted [[swapStaged]]. Returns what
    * it did:
    *
    *  - `"completed-swap"` — live name was missing but the staged
    *    table existed (crash between the renames): the staged table
    *    is promoted and any `__old` leftover dropped.
    *  - `"restored-old"` — live and staged both missing but `__old`
    *    exists (staged vanished mid-swap — should not happen under
    *    [[swapStaged]]'s ordering, handled defensively): the prior
    *    snapshot is restored.
    *  - `"dropped-old"` — live exists, `__old` dangled (crash after
    *    the second rename): leftover dropped.
    *  - `"dropped-stale-staging"` — live exists and a `__next`
    *    dangled (crash after staging, before the swap began). The
    *    staging table holds a merged state whose delta durability is
    *    unknown to this helper, so the safe resolution is to drop it
    *    and re-run the advance against the intact live state.
    *  - `"clean"` — nothing to do.
    */
  def recoverStateTable(spark: SparkSession, stateTable: String): String = {
    val next = staged(stateTable)
    val old = retired(stateTable)
    val cat = spark.catalog
    val hasLive = cat.tableExists(stateTable)
    val hasStaged = cat.tableExists(next)
    val hasOld = cat.tableExists(old)
    if (!hasLive && hasStaged) {
      spark.sql(s"ALTER TABLE $next RENAME TO $stateTable")
      if (hasOld) spark.sql(s"DROP TABLE $old")
      "completed-swap"
    } else if (!hasLive && hasOld) {
      spark.sql(s"ALTER TABLE $old RENAME TO $stateTable")
      "restored-old"
    } else if (hasLive && hasOld) {
      spark.sql(s"DROP TABLE $old")
      "dropped-old"
    } else if (hasLive && hasStaged) {
      spark.sql(s"DROP TABLE $next")
      "dropped-stale-staging"
    } else "clean"
  }

  /** [[advanceStateTableBy]] specialized to the built-in
    * count/sum/min/max state of [[aggState]]. */
  def advanceStateTable(spark: SparkSession, stateTable: String,
                        delta: DataFrame, groupCols: Seq[String],
                        valueCol: String, scale: Int = 2): Unit =
    advanceStateTableBy(spark, stateTable,
      aggState(delta, groupCols, valueCol, scale), groupCols,
      Seq(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx")))
}
