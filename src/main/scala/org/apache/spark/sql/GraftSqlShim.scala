package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` surface (Spark 4 removed the public
  * `new Column(expr)` constructor in the Connect refactor). Lives in the
  * org.apache.spark.sql package solely to convert custom Catalyst
  * expressions into Columns and to fit the engine's Catalyst surface
  * onto a session built elsewhere (`GraftEngine.install`).
  */
object GraftSqlShim {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed logical plan as a DataFrame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The strategies the session's planner plans with: its experimental
    * ones, those its extensions inject, then Spark's own. */
  def plannerStrategies(spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner.strategies

  /** The session's own extensions object. Its planner reads the
    * injected strategies again on every plan, so a strategy injected
    * into a built session takes effect from its next query. Functions
    * injected into it reach only the sessions derived later
    * (`newSession()`); the session's live function registry takes them
    * through [[registerFunction]]. */
  def extensions(spark: SparkSession): SparkSessionExtensions =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].extensions

  /** The reliable-checkpoint file behind a frame returned by
    * `Dataset.checkpoint()`, if any — the checkpointed RDD rides inside
    * the plan's `LogicalRDD` leaf (`private[sql]`, hence this shim).
    * Matches the analyzed plan ROOT only: a frame that merely embeds a
    * checkpointed leaf deeper in its plan (e.g. a select over a
    * truncate() result) returns None, so `Checkpointing.release` can
    * never delete files a derived live frame still reads. */
  def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _ => None
    }

  /** Rebuild a checkpointed frame's `LogicalRDD` leaf WITHOUT the
    * origin plan's carried statistics. `Dataset.localCheckpoint` copies
    * the source plan's estimated `Statistics` into the new leaf
    * (`originStats`) so later joins can still broadcast-decide — but
    * in an ITERATIVE operator whose per-round plan references the
    * previous round's checkpoint k times, the size-in-bytes estimate
    * compounds as size^k PER ROUND (Catalyst's join estimate is the
    * product of children): by round r the leaf carries a ~k^r-digit
    * BigInteger and every stats visit burns minutes of single-core
    * Toom-Cook multiplication (measured: Louvain's k≈9 self-references
    * froze the sf0.1 sweep from round ~7). Stripping resets the leaf
    * to the default size estimate; partitioning/ordering metadata is
    * preserved. No-op on frames whose root is not a checkpoint leaf. */
  def stripCarriedStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        ofRows(df.sparkSession,
          new org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None))
      case _ => df
    }

  /** Rebuild a LOCALLY-CHECKPOINTED frame's `LogicalRDD` leaf with
    * statistics MEASURED from its materialized storage blocks — the
    * round-16 replacement for both failure modes of the carried
    * estimate:
    *
    *  - carried ORIGIN-PLAN stats compound as size^k per round in
    *    iterative loops (see [[stripCarriedStats]]) because they are
    *    products of estimates, growing without bound;
    *  - a STRIPPED leaf reports the default size estimate
    *    (`spark.sql.defaultSizeInBytes` = Long.Max), so the planner
    *    can never broadcast a per-round node-sized frame and every
    *    loop join degrades to an exchange of the |E|-sized side.
    *
    * The measured size is the TRUE byte footprint of the checkpoint
    * blocks (block-manager `memSize + diskSize` of the leaf RDD) — a
    * bounded constant per round, so join-estimate products stay small
    * BigInts (no planning blowup), and broadcast/SHJ decisions are
    * made from data rather than defaults: a node-sized frontier frame
    * broadcasts at local scale, the same code at 100 TB measures past
    * the threshold and keeps the shuffle. A checkpoint leaf whose
    * blocks are not registered (nothing to measure) comes back with
    * its carried stats stripped ([[stripCarriedStats]]), never with
    * the origin plan's; frames whose root is not a checkpoint leaf are
    * returned unchanged. */
  def withMeasuredStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id) match {
          case Some(info) =>
            val bytes = math.max(1L, info.memSize + info.diskSize)
            ofRows(df.sparkSession,
              new org.apache.spark.sql.execution.LogicalRDD(
                l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
                l.isStreaming, l.stream)(
                df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
                Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
                  sizeInBytes = BigInt(bytes))),
                None))
          case None => stripCarriedStats(df)
        }
      case _ => df
    }

  /** The config options accumulated on a not-yet-built session builder
    * — lets tests assert a builder pins the conf posture without paying
    * for a second SparkContext. `options` is `protected` in Scala but
    * public in bytecode, so plain reflection reads it. */
  def builderOptions(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap

  /** The SQL function builder Spark's own UDF registration uses for a
    * Scala UDF (a `ScalaUDF`) or a typed-Aggregator UDAF (the bare
    * aggregate function, which the analyzer wraps). A builder that goes through
    * [[column]]/[[expression]] instead yields an unresolved column node
    * that the SQL function path never converts. */
  def userDefined(f: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = f match {
    case a: org.apache.spark.sql.expressions.UserDefinedAggregator[_, _, _] =>
      args => org.apache.spark.sql.execution.aggregate.ScalaAggregator(a, args)
    case u: org.apache.spark.sql.expressions.SparkUserDefinedFunction =>
      args => org.apache.spark.sql.classic.UserDefinedFunctionUtils.toScalaUDF(u, args)
  }

  /** Register (idempotently) a temp SQL function backed by an expression
    * builder on the given session. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }
}
