package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.PriorityQueue

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Exact top-k values as a Catalyst TypedImperativeAggregate (SURVEY.md
  * §7.3's "TypedImperativeAggregate ... sketches" slot).
  *
  * State is a k-bounded min-heap, so the aggregation buffer is O(k)
  * regardless of group size, partials combine associatively (map-side
  * combine works), and the result — the k largest values, sorted
  * descending — is independent of row order: deterministic across
  * partitionings and engines, hence oracle-checkable, unlike sampling
  * sketches. Serialization between partial and final is k doubles.
  */
case class TopKValues(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[Double]]
  with UnaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): PriorityQueue[Double] =
    new PriorityQueue[Double](k + 1)

  override def update(buf: PriorityQueue[Double], input: InternalRow): PriorityQueue[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (buf.size < k) buf.add(d)
      else if (buf.peek() < d) { buf.poll(); buf.add(d) }
    }
    buf
  }

  override def merge(a: PriorityQueue[Double], b: PriorityQueue[Double]): PriorityQueue[Double] = {
    val it = b.iterator()
    while (it.hasNext) {
      val d = it.next()
      if (a.size < k) a.add(d)
      else if (a.peek() < d) { a.poll(); a.add(d) }
    }
    a
  }

  override def eval(buf: PriorityQueue[Double]): Any = {
    val arr = new Array[Double](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    // descending
    val out = new Array[Any](arr.length)
    i = 0
    while (i < arr.length) { out(i) = arr(arr.length - 1 - i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: PriorityQueue[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeDouble(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(in.readDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKValues =
    copy(child = newChild)
}

/** Top-k (score, id) pairs per group as a TypedImperativeAggregate —
  * the shortlist shape for ANN candidate scans. A `row_number` window
  * over a (corpus × queries) score table shuffles and fully sorts EVERY
  * scored row per group; this aggregate keeps a k-bounded heap per
  * group with map-side combine, so the shuffle carries ≤ k (double,
  * long) entries per group per map partition and nothing is ever
  * globally sorted. Result: the k ids with the largest scores, ordered
  * by (score desc, id asc) — ties break toward the smaller id, matching
  * the `orderBy(score.desc, id.asc)` window it replaces, so results are
  * deterministic across partitionings. */
case class TopKScoredIds(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[(Double, Long)]]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk_ids"
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("score", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def left: Expression = score
  override def right: Expression = id

  private def weakestFirst = TopKScoredIds.WeakestFirst

  override def createAggregationBuffer(): PriorityQueue[(Double, Long)] =
    new PriorityQueue[(Double, Long)](k + 1, weakestFirst)

  private def offer(buf: PriorityQueue[(Double, Long)], e: (Double, Long)): Unit =
    if (buf.size < k) buf.add(e)
    else if (weakestFirst.compare(buf.peek(), e) < 0) { buf.poll(); buf.add(e) }

  override def update(buf: PriorityQueue[(Double, Long)], input: InternalRow): PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      offer(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(a: PriorityQueue[(Double, Long)], b: PriorityQueue[(Double, Long)]): PriorityQueue[(Double, Long)] = {
    val it = b.iterator()
    while (it.hasNext) offer(a, it.next())
    a
  }

  override def eval(buf: PriorityQueue[(Double, Long)]): Any = {
    val arr = new Array[(Double, Long)](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // strongest first: score desc, ties id asc
    java.util.Arrays.sort(arr, weakestFirst.reversed())
    new GenericArrayData(arr.map(e =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e._1, e._2)): Any))
  }

  override def serialize(buf: PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val e = it.next(); out.writeDouble(e._1); out.writeLong(e._2) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoredIds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScoredIds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKScoredIds =
    copy(score = newLeft, id = newRight)
}

object TopKScoredIds {
  import org.apache.spark.sql.Column

  /** Weakest entry first: lowest score, ties prefer the LARGER id (so
    * the smaller id survives the heap when scores are equal). A
    * top-level serializable object — the expression tree it rides in is
    * shipped to executors. */
  private[functions] object WeakestFirst
    extends java.util.Comparator[(Double, Long)] with Serializable {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  /** DataFrame aggregate: `array<struct<score,id>>` of the k largest
    * scores, (score desc, id asc)-ordered. Ids must be numeric (cast to
    * long) — the ANN id contract in this engine. */
  def agg(score: Column, id: Column, k: Int): Column =
    GraftSqlShim.column(
      TopKScoredIds(
        GraftSqlShim.expression(score.cast("double")),
        GraftSqlShim.expression(id.cast("long")),
        k).toAggregateExpression())
}
