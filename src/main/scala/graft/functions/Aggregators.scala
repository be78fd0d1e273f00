package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed aggregators (SURVEY.md §2b "UDAF surface").
  *
  * [[VectorCentroid]] (SQL `graft_centroid`) — elementwise mean of an
  * embedding column, the centroid primitive IVF/k-means needs. Partial
  * buffers are (sums, n), merged associatively, so the map-side combine
  * collapses each partition to one buffer before the shuffle — at 100 TB
  * the shuffle carries |groups| × dim doubles, not the vectors.
  *
  * Note: double addition is merge-order-dependent in the last ulp; like
  * every distributed float mean, results are deterministic only up to
  * partitioning. (Exact cross-engine checks use the decimal-sum pattern
  * in graft.ops.Tables instead.)
  */
case class CentroidBuffer(sums: Array[Double], n: Long)

class VectorCentroid extends Aggregator[Array[Float], CentroidBuffer, Array[Float]] {
  override def zero: CentroidBuffer = CentroidBuffer(Array.empty, 0L)

  override def reduce(b: CentroidBuffer, v: Array[Float]): CentroidBuffer = {
    if (v == null) return b
    val sums = if (b.sums.isEmpty) new Array[Double](v.length) else b.sums
    var i = 0
    while (i < v.length && i < sums.length) { sums(i) += v(i); i += 1 }
    CentroidBuffer(sums, b.n + 1)
  }

  override def merge(a: CentroidBuffer, b: CentroidBuffer): CentroidBuffer = {
    if (a.n == 0) return b
    if (b.n == 0) return a
    val sums = a.sums.clone()
    var i = 0
    while (i < sums.length && i < b.sums.length) { sums(i) += b.sums(i); i += 1 }
    CentroidBuffer(sums, a.n + b.n)
  }

  override def finish(r: CentroidBuffer): Array[Float] =
    if (r.n == 0) Array.empty else r.sums.map(s => (s / r.n).toFloat)

  override def bufferEncoder: Encoder[CentroidBuffer] = Encoders.product[CentroidBuffer]
  override def outputEncoder: Encoder[Array[Float]] = ExpressionEncoder[Array[Float]]()
}
