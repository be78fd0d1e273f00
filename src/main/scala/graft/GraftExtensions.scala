package graft

import org.apache.spark.sql.{GraftSqlShim, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.types.DoubleType

/** The engine's Catalyst surface — the native as-of join planner
  * strategy and every `graft_*` SQL function — as one
  * `SparkSessionExtensions` function, the standard way a Spark library
  * ships Catalyst extensions.
  *
  * Every session the engine builds carries it
  * (`GraftEngine.sessionBuilder` applies it with `withExtensions`); a
  * session built elsewhere opts in at launch with
  * `spark.sql.extensions=graft.GraftExtensions`, or after the fact with
  * `GraftEngine.install(spark)`, which reads the same
  * [[GraftExtensions.functions]] table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (es: Seq[Expression]) => builder(es)))
    }
  }
}

object GraftExtensions {
  /** The SQL function surface: one builder per `graft_*` name. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (es => graft.functions.CosineSimilarity(es(0), es(1))),
    "graft_dot" -> (es => graft.functions.DotProduct(es(0), es(1))),
    "graft_simhash" -> (es => graft.functions.SimHashRow(es(0))),
    "graft_minhash" -> (es => graft.functions.MinHashSigRow(es(0), intLit(es(1), "graft_minhash numHashes"))),
    "graft_minhash_chars" -> (es => graft.functions.MinHashSigChars(es(0),
      intLit(es(1), "graft_minhash_chars n"), intLit(es(2), "graft_minhash_chars numHashes"))),
    "graft_pack_int8" -> (es => graft.functions.PackInt8(es(0))),
    "graft_int8_dot" -> (es => graft.functions.Int8DotProduct(es(0), es(1))),
    "graft_sig_matches" -> (es => graft.functions.SigMatchCount(es(0), es(1))),
    "graft_byte_histogram" -> (es => graft.functions.ByteHistogram(es(0))),
    "graft_byte_gram_signature" -> (es => graft.functions.ByteGramSignature(
      es(0), intLit(es(1), "graft_byte_gram_signature bins"))),
    // the bare AggregateFunction: the analyzer wraps it in an
    // AggregateExpression, same as the built-in registry entries
    "graft_topk" -> (es => graft.functions.TopKValues(Cast(es(0), DoubleType), es(1) match {
      case Literal(v, _) => v.toString.toInt
      case other => throw new IllegalArgumentException(s"graft_topk k must be a literal, got $other")
    })),
    "graft_centroid" -> GraftSqlShim.userDefined(udaf(new graft.functions.VectorCentroid,
      ExpressionEncoder[Array[Float]]()).withName("graft_centroid")),
    "graft_char_entropy" -> GraftSqlShim.userDefined(
      udf(graft.functions.GraftUdfs.charEntropy).withName("graft_char_entropy"))
  )

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
