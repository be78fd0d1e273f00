package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

/** Event-time as-of join (SURVEY.md §2b "As-of join").
  *
  * For every left row, attach the single right row with the greatest
  * `rightTime <= leftTime` for the same key (ties broken toward the largest
  * `tieBreak` value), or nulls when no such row exists.
  *
  * Implementation is the union-window algorithm, not a join: tag both
  * inputs, union them, and carry the latest right-side payload forward with
  * one `last(_, ignoreNulls = true)` window pass. This costs a single
  * shuffle of |L| + |R| rows on the key. The naive formulation —
  * `L LEFT JOIN R ON key AND rtime <= ltime` then keep the max — first
  * materializes every (left, earlier-right) pair, O(|L|·|R|) per key, which
  * is exactly the intermediate blow-up that kills a 100 TB run. The window
  * payload is packed into one struct so all right columns are taken from
  * the same right row even if some payload values are null.
  */
object AsOfJoin {

  def asof(left: DataFrame, right: DataFrame,
           leftOn: String, rightOn: String,
           leftTime: String, rightTime: String,
           rightCols: Seq[String],
           rightTieBreak: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val tb = rightTieBreak.getOrElse(rightCols.head)

    val lTagged = left
      .withColumn("__key", col(leftOn))
      .withColumn("__time", col(leftTime))
      .withColumn("__tag", lit(1))
    val rTagged = right.select(
      col(rightOn).as("__key"),
      col(rightTime).as("__time"),
      col(tb).as("__tb"),
      struct(rightCols.map(col): _*).as("__payload"))
      .withColumn("__tag", lit(0))

    // Right rows sort before left rows at equal time (__tag 0 < 1), so a
    // right row at exactly leftTime is matched (<= semantics). Among right
    // rows at the same time, the largest tie-break value wins (last in
    // ascending order).
    val w = Window
      .partitionBy("__key")
      .orderBy(col("__time").asc, col("__tag").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__matched", last(col("__payload"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(leftCols.map(col) ++ rightCols.map(c => col(s"__matched.$c").as(c)): _*)
  }

  /** Same semantics via the custom whole-operator path: a native
    * [[graft.plans.AsOfJoinPlan]] logical node planned by
    * [[graft.plans.AsOfJoinStrategy]] into a co-partitioned sort-merge
    * `AsOfJoinExec` (O(1) state per partition, no window operator).
    * The session must plan with the strategy: every session
    * `GraftEngine.sessionBuilder` builds does, and `GraftEngine.install`
    * adds it to any other. */
  def asofPlanned(left: DataFrame, right: DataFrame,
                  leftOn: String, rightOn: String,
                  leftTime: String, rightTime: String,
                  rightCols: Seq[String]): DataFrame = {
    require(rightCols.forall(!left.columns.contains(_)),
      s"right payload columns ${rightCols.mkString(",")} must not collide with left columns")
    val spark = left.sparkSession
    require(GraftSqlShim.plannerStrategies(spark).contains(AsOfJoinStrategy),
      "the session does not plan with the as-of join strategy: build it with " +
        "GraftEngine.sessionBuilder or call GraftEngine.install(spark) first")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    GraftSqlShim.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, leftOn), attr(rPlan, rightOn),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      rightCols.map(attr(rPlan, _))))
  }
}
