package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** PACKED portable-HLL register sets for the graph-distance family
  * ([[graft.ops.Graph.neighborhoodFunction]] / `effectiveDiameter` /
  * the maintained ANF pair).
  *
  * The round-14 representation kept registers as RELATIONAL ROWS —
  * one (node, bucket, r) row per present register — which is the right
  * shape for the sketch-state family (tiny per-key sketches, mergeable
  * by `max` over (key, bucket)), but the wrong CONSTANT for HyperANF:
  * near saturation every node carries ~m=256 rows, so one merge round
  * shuffles |E| × ~256 rows (measured sf0.1 q232 graph: ~380k directed
  * edges → tens of millions of (node, bucket, r) rows per round into a
  * 2M-group aggregate). This file packs a node's full register set
  * into ONE 256-byte binary (byte b = rho of bucket b, 0 = absent), so
  *
  *  - a merge round shuffles |E| ROWS (each carrying one 256-byte
  *    payload — the same information, ~50× fewer rows),
  *  - the max-merge aggregate groups by node alone (|V| groups, not
  *    |V|×256) in one tight byte loop per input row
  *    ([[HllRegMaxAgg]], map-side combined like every
  *    TypedImperativeAggregate here),
  *  - the estimate reads (zsum, present) off the packed row in one
  *    O(m) byte scan ([[HllRegEstimate]]) — no re-aggregation at read
  *    time at all.
  *
  * Arithmetic is BIT-IDENTICAL to the row form by construction: the
  * packed bytes are exactly the (bucket → max rho) map the row form's
  * `max(r)` groups produce; zsum is the same exact integer
  * Σ 2^(57−rho) over present buckets (DECIMAL — the term order
  * disappears in an exact integer sum), `present` the same count, and
  * the estimate reuses [[PortableSketches.hllEstimate]] verbatim — so
  * the unrolled DuckDB register-CTE oracles (q232/q240/q243) are
  * untouched and still replay every estimate to the bit.
  */
object HllRegs {
  /** m = 256 register slots ([[PortableSketches.HllP]] = 8). */
  val M: Int = PortableSketches.HllM

  def init(bucket: Int, r: Int): Array[Byte] = {
    val a = new Array[Byte](M)
    a(bucket) = r.toByte
    a
  }

  /** Bytewise max of `b` into `a` (in place; rho ≤ 57 so signed byte
    * compare is safe). */
  def maxInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  /** Column: packed register set of a single (bucket, rho) pair. */
  def regInit(bucket: Column, r: Column): Column =
    GraftSqlShim.column(HllRegInit(
      GraftSqlShim.expression(bucket.cast("int")),
      GraftSqlShim.expression(r.cast("int"))))

  /** Aggregate column: bytewise max-merge of packed register sets. */
  def regMax(regs: Column): Column =
    GraftSqlShim.column(
      HllRegMaxAgg(GraftSqlShim.expression(regs)).toAggregateExpression())

  /** Column: the standard estimate off a packed register set — ONE
    * compiled O(m) pass per row ([[HllRegEstimate]]). Bit-identical to
    * [[PortableSketches.hllEstimate]] over the row form's
    * sum(term)/count aggregate: same exact-integer Z, same
    * double-division raw estimate, same linear-counting branch through
    * [[PortableSketches.lnOfPosLong]] (the spec-proven static twin of
    * the `lnOfInt` Column macro — which would otherwise substitute its
    * argument ~30×, evaluating the O(m) present() scan ~60× per row). */
  def regEstimate(regs: Column): Column =
    GraftSqlShim.column(HllRegEstimate(GraftSqlShim.expression(regs)))

  /** 2^57-scaled harmonic denominator (zsum + absent·2^57) and the
    * estimate, one pass: mirrors [[PortableSketches.hllEstimate]]'s
    * arithmetic exactly. */
  def estimate(a: Array[Byte]): Double = {
    var lo = 0L // Σ 2^(57-rho) over rho >= 2 terms, plus absent 2^57s below
    var ones = 0L
    var absent = 0L
    var i = 0
    while (i < M) {
      val r = a(i)
      if (r <= 0) absent += 1L
      else if (r == 1) ones += 1L
      else lo += 1L << (57 - r)
      i += 1
    }
    // z = zsum + vZero·2^57 exactly, as BigInteger → double (the same
    // value Spark's DECIMAL + then cast-to-double produces: one exact
    // integer, one IEEE rounding)
    val z = java.math.BigInteger.valueOf(ones).shiftLeft(56)
      .add(java.math.BigInteger.valueOf(absent).shiftLeft(57))
      .add(java.math.BigInteger.valueOf(lo))
    val eRaw = HllA / new java.math.BigDecimal(z).doubleValue()
    if (eRaw <= LincountGate && absent > 0L)
      M.toDouble * (LnM - PortableSketches.lnOfPosLong(absent))
    else eRaw
  }

  /** The estimator constants, mirrored from [[PortableSketches]]
    * (private there; re-derived with the identical formulas so the
    * literals are the same doubles). */
  private val HllA: Double = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    alpha * M.toDouble * M.toDouble * (1L << 57).toDouble
  }
  private val LincountGate: Double = 2.5 * M
  private val LnM: Double = math.log(M.toDouble)
}

/** Packed register set with one (bucket, rho) slot set — the level-0 /
  * new-node initializer. */
case class HllRegInit(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_hll_reg_init"
  override def inputTypes: Seq[DataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = BinaryType

  protected override def nullSafeEval(bucket: Any, r: Any): Any =
    HllRegs.init(bucket.asInstanceOf[Int], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, r) =>
      s"graft.functions.HllRegs.init($b, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllRegInit =
    copy(left = newLeft, right = newRight)
}

/** Bytewise max-merge aggregate over packed register sets: buffer =
  * one 256-byte array, update/merge = one tight byte loop — map-side
  * combined, so a merge round's shuffle carries ≤ one packed row per
  * (map task, node). */
case class HllRegMaxAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_hll_reg_max"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](HllRegs.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllRegs.maxInto(buf, v.asInstanceOf[Array[Byte]])
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllRegs.maxInto(a, b)

  override def eval(buf: Array[Byte]): Any =
    java.util.Arrays.copyOf(buf, HllRegs.M)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegMaxAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegMaxAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegMaxAgg =
    copy(child = newChild)
}

/** The full portable-HLL estimate of a packed register set in one
  * compiled O(m) pass — bit-identical to
  * [[PortableSketches.hllEstimate]] over the row form's aggregates
  * (see [[HllRegs.estimate]]). */
case class HllRegEstimate(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_hll_reg_estimate"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType

  protected override def nullSafeEval(input: Any): Any =
    HllRegs.estimate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HllRegs.estimate($c)")

  override protected def withNewChildInternal(newChild: Expression): HllRegEstimate =
    copy(child = newChild)
}
