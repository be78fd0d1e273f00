package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for vector similarity (SURVEY.md §2b
  * "Similarity"; §7.3 "codegen Expression for cosine similarity").
  *
  * Why an Expression and not a UDF or higher-order functions: a Scala UDF
  * boxes every float into java.lang.Float and breaks whole-stage codegen;
  * `aggregate(zip_with(...))` builds an intermediate array per row. With
  * `doGenCode` the dot product inlines into the generated Java of the
  * surrounding stage — one tight primitive loop per row, no allocation.
  * On a 100 TB ANN sweep this loop IS the workload, so it must be codegen.
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  // typed as Seq[DataType] (covariant with Seq[AbstractDataType], which is
  // not visible outside org.apache.spark.sql)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
}

/** cosine(a, b) in double precision; 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "graft_cosine"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    // split-sqrt combine CLAMPED into [-1, 1] — the exact arithmetic
    // DuckDB's list_cosine_similarity performs (pinned empirically in
    // round 11: an identical-vector pair reads 1.0000000000000002
    // under unclamped split-sqrt and DuckDB returns exactly 1.0, while
    // an in-range pair matches the split form to the bit and NOT the
    // dot/sqrt(nx·ny) product form — so DuckDB = split + clamp). The
    // clamp is also the mathematically honest move: |cos| ≤ 1, and the
    // overshoot is pure floating error. Caught by the round-11 sf0.1
    // sweep on q208's exact-dup byte signatures.
    if (nx == 0.0 || ny == 0.0) 0.0
    else math.max(-1.0, math.min(1.0, dot / (math.sqrt(nx) * math.sqrt(ny))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0
         |  : java.lang.Math.max(-1.0d, java.lang.Math.min(1.0d,
         |      $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny))));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) in double precision. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "graft_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Pack int8 quantization codes (array<bigint> in [-128, 127], from
  * [[graft.ops.Quantize.int8Codes]]) into a BINARY column — the 4×-smaller
  * on-disk/in-memory representation a quantized ANN index actually stores
  * (a float[64] embedding is 256 B; its codes are 64 B). */
case class PackInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def prettyName: String = "graft_pack_int8"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType

  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i).toByte; i += 1 }
    out
  }

  protected override def nullSafeEval(input: Any): Any =
    pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("packInt8", this, classOf[PackInt8].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.pack($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PackInt8 =
    copy(child = newChild)
}

/** Integer dot product of two packed-int8 code vectors: Σ a[i]·b[i] as a
  * long. This is the hot loop of a quantized ANN scan — byte loads,
  * integer multiply-accumulate, no float math, no allocation — inlined
  * into the surrounding stage's generated Java. */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_int8_dot"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var acc = 0L; var i = 0
    while (i < n) { acc += x(i).toInt * y(i).toInt; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) (((int) $a[$i]) * ((int) $b[$i]));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Number of positions where two long-array signatures agree — the
  * MinHash prefilter kernel: estimated Jaccard = matches / numHashes.
  * Runs per CANDIDATE PAIR (millions at scale), which is why it is a
  * codegen expression rather than the interpreted
  * `size(filter(zip_with(a, b, _ === _), identity))` formulation it
  * replaces (that allocates two intermediate arrays and walks three
  * interpreted lambdas per pair).
  *
  * ImplicitCastInputTypes so the SQL surface (`graft_sig_matches`)
  * accepts array<int> and other implicitly-castable inputs instead of
  * failing analysis. Null lanes never count as matches (a null lane
  * previously read as 0, so two null lanes "agreed") — the engine's own
  * signatures are null-free, but the SQL surface cannot assume that. */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_sig_matches"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var m = 0; var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) m += 1
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) $m++;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature packed to ONE BYTE per lane (multiplicative hash,
  * top byte) for the prefilter ESTIMATOR join. Lane agreement survives
  * packing exactly (equal lanes ⇒ equal bytes), and a false byte match
  * only INFLATES the estimate by (1−j)/256 ≈ 0.4% — conservative in
  * the only direction that matters for a ≥-cutoff prefilter (a true
  * pair's estimate never drops). What it buys: the estimate join
  * attaches the signature to every candidate pair, and that column
  * rides a per-CANDIDATE shuffle — at 192 lanes the array<long> form
  * is 1.5 KB/pair-side (measured: a 96M-candidate x100 mine spilled
  * ~150 GB sorting the second join's input and OOM'd the spill
  * reader), the packed form 192 B. Null lanes (not produced by any
  * graft signature expression) hash as a fixed code. */
case class PackSigBytes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def prettyName: String = "graft_pack_sig_bytes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType

  protected override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = if (x.isNullAt(i)) 0L else x.getLong(i)
      out(i) = ((v * -7046029254386353131L) >>> 56).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $v = $a.isNullAt($i) ? 0L : $a.getLong($i);
         |  $out[$i] = (byte) (($v * -7046029254386353131L) >>> 56);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of equal bytes between two [[PackSigBytes]]-packed signatures.
  *
  * STRICT on length: two packed signatures of different lengths mean
  * the two sides were built with different `estHashes` geometries (e.g.
  * probing an index written under an older default), and a lenient
  * min-length count would silently push every estimate under the
  * prefilter cutoff — a probe that "works" but returns zero pairs.
  * That failure mode is invisible; the thrown geometry error is not,
  * and it names the fix (pass the index's estHashes to the probe). */
case class ByteMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_byte_matches"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) ByteMatchCount.geometryError(x.length, y.length)
    val n = x.length
    var m = 0; var i = 0
    while (i < n) { if (x(i) == y(i)) m += 1; i += 1 }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      s"""
         |if ($a.length != $b.length)
         |  graft.functions.ByteMatchCount.geometryError($a.length, $b.length);
         |int $n = $a.length;
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) { if ($a[$i] == $b[$i]) $m++; }
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ByteMatchCount {
  /** Called from generated code too — keep the signature stable. */
  def geometryError(a: Int, b: Int): Nothing =
    throw new IllegalArgumentException(
      s"packed-signature geometry mismatch: $a vs $b lanes — the two " +
        "sides were built with different estHashes (bands*rows/estHashes " +
        "must match the values the signatures/index were written with)")
}

/** Top-`k` nearest-centroid ids of a vector against a driver-resident
  * centroid model, as ONE reference-object expression.
  *
  * Why not the inlined-literal argmax (`array_max`/`array_sort` over
  * per-centroid cosine struct literals): that formulation generates
  * Java proportional to nlist × dim, and past a few hundred centroids
  * the projection method crosses Janino's 64 KB limit — the x100
  * semantic-dedup curve (nlist = 800) fell back to interpreted mode,
  * which is exactly the q38 composed-sign-LSH failure shape again.
  * Here the model rides along as ONE reference object (the same way
  * [[SignLshBuckets]] carries its planes) and the per-row work is a
  * tight JVM loop, so codegen size is constant in nlist.
  *
  * Bit-compatibility contract (the q46/q95/q101 oracles replay this in
  * SQL): per-centroid score is EXACTLY [[CosineSimilarity]]'s
  * arithmetic — per-index float→double promotion, dot/norm
  * accumulation in index order, 0.0 on zero norms — with the query
  * norm computed once (same double every per-pair evaluation would
  * produce) and centroid norms precomputed likewise; ranking is
  * cos DESC with ties to the SMALLER centroid id (Double.compare
  * semantics, as the struct orderings used before). */
/** The centroid-scoring arithmetic shared by [[NearestCentroids]] and
  * [[TwoLevelNearestCentroids]] — ONE definition, so the tree probe's
  * "wprobe = ntop reproduces the flat probe EXACTLY" contract (which
  * ivfTopKTwoLevel, the q145 oracle, and OpsSpec all rest on) is
  * enforced by the compiler, not by a comment. Equal-dims path reuses
  * the precomputed centroid norm; mismatched dims replay
  * [[CosineSimilarity]]'s truncated-prefix arithmetic. */
private[functions] object CentroidScoring {
  def vnorm(cv: Array[Float]): Double = {
    var ny = 0.0
    var i = 0
    while (i < cv.length) { val v = cv(i).toDouble; ny += v * v; i += 1 }
    math.sqrt(ny)
  }

  def score(arr: ArrayData, xn: Int, nx: Double, sqnx: Double,
            cv: Array[Float], cn: Double): Double = {
    val n = math.min(xn, cv.length)
    if (n == xn && n == cv.length) {
      var dot = 0.0
      var j = 0
      while (j < n) { dot += arr.getFloat(j).toDouble * cv(j).toDouble; j += 1 }
      if (nx == 0.0 || cn == 0.0) 0.0 else dot / (sqnx * cn)
    } else {
      var dot = 0.0; var nxx = 0.0; var nyy = 0.0
      var j = 0
      while (j < n) {
        val xv = arr.getFloat(j).toDouble
        val yv = cv(j).toDouble
        dot += xv * yv; nxx += xv * xv; nyy += yv * yv; j += 1
      }
      if (nxx == 0.0 || nyy == 0.0) 0.0
      else math.max(-1.0, math.min(1.0, // CosineSimilarity's combine form
        dot / (math.sqrt(nxx) * math.sqrt(nyy))))
    }
  }
}

case class NearestCentroids(child: Expression,
                            cents: Array[(Long, Array[Float])], k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ExpectsInputTypes {

  require(cents.nonEmpty, "centroid model must be non-empty")
  require(k >= 1, s"k must be >= 1, got $k")

  // Clamp rather than reject: seedCentroids returns min(nlist, |corpus|)
  // rows, so a tiny corpus can hand us fewer centroids than the caller's
  // nprobe/probes. The pre-round-6 slice(array_sort(...)) formulation
  // degraded gracefully to fewer probed cells; keep that behavior.
  private val kEff: Int = math.min(k, cents.length)

  override def prettyName: String = "graft_nearest_centroids"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val centNorms: Array[Double] =
    cents.map { case (_, cv) => CentroidScoring.vnorm(cv) }

  def compute(arr: ArrayData): ArrayData = {
    val xn = arr.numElements()
    var nx = 0.0
    var i = 0
    while (i < xn) { val v = arr.getFloat(i).toDouble; nx += v * v; i += 1 }
    val sqnx = math.sqrt(nx)
    // top-k by (cos desc, id asc) via insertion into k-sized arrays
    val bestCos = new Array[Double](kEff)
    val bestId = new Array[Long](kEff)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val (cid, cv) = cents(c)
      val cos = CentroidScoring.score(arr, xn, nx, sqnx, cv, centNorms(c))
      // find insertion point among the current top-k
      var pos = filled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(cos, bestCos(pos - 1))
        cmp > 0 || (cmp == 0 && cid < bestId(pos - 1))
      }) pos -= 1
      if (pos < kEff) {
        val lim = math.min(filled, kEff - 1)
        var m = lim
        while (m > pos) { bestCos(m) = bestCos(m - 1); bestId(m) = bestId(m - 1); m -= 1 }
        bestCos(pos) = cos
        bestId(pos) = cid
        if (filled < kEff) filled += 1
      }
      c += 1
    }
    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = org.apache.spark.sql.catalyst.InternalRow(bestId(r), bestCos(r))
      r += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCents", this, classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Two-level (coarse-quantizer tree) top-k nearest-centroid probe —
  * closes the flat probe's O(nlist)-per-row envelope: [[NearestCentroids]]
  * scores EVERY centroid literal per row, so when nlist grows with the
  * corpus (the SemDeDup/IVF sizing rule that keeps cells task-sized) a
  * corpus-sized probe stage is N·nlist. Here the fine centroids are
  * grouped under `ntop` coarse centroids; per row the probe scores the
  * coarse level (O(ntop)), keeps the `wprobe` best coarse cells, and
  * scores only THEIR fine members — O(ntop + wprobe·nlist/ntop) ≈
  * O(2·√nlist) at ntop=√nlist, the standard IVF coarse-quantizer shape
  * (Johnson et al. 2017, billion-scale similarity search). The model
  * rides the expression as ONE reference object (the
  * [[SignLshBuckets]]/[[NearestCentroids]] discipline): expression SIZE
  * is still O(nlist) — the model has to live somewhere — but per-row
  * COMPUTE is the tree's, which is the envelope that mattered.
  *
  * Scoring arithmetic is byte-for-byte [[NearestCentroids]]' (equal-dims
  * norm reuse, truncated-prefix fallback, cos desc / id asc ties at both
  * levels), so a tree probe with wprobe = ntop reproduces the flat probe
  * EXACTLY, and a narrower tree differs only where the true cell's
  * coarse parent fell outside the wprobe picks — the documented
  * approximation, not arithmetic drift. */
case class TwoLevelNearestCentroids(
    child: Expression,
    coarse: Array[(Long, Array[Float])],
    groups: Array[Array[(Long, Array[Float])]],
    wprobe: Int, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ExpectsInputTypes {

  require(coarse.nonEmpty, "coarse model must be non-empty")
  require(groups.length == coarse.length,
    s"one fine group per coarse centroid (${groups.length} vs ${coarse.length})")
  require(wprobe >= 1, s"wprobe must be >= 1, got $wprobe")
  require(k >= 1, s"k must be >= 1, got $k")

  private val wEff: Int = math.min(wprobe, coarse.length)

  override def prettyName: String = "graft_two_level_nearest_centroids"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val coarseNorms: Array[Double] =
    coarse.map { case (_, cv) => CentroidScoring.vnorm(cv) }
  @transient private lazy val groupNorms: Array[Array[Double]] =
    groups.map(_.map { case (_, cv) => CentroidScoring.vnorm(cv) })

  // scoring is [[CentroidScoring]] — the SAME definition the flat probe
  // compiles, which is what makes wprobe = ntop exactly reproduce it
  private def score(arr: ArrayData, xn: Int, nx: Double, sqnx: Double,
                    cv: Array[Float], cn: Double): Double =
    CentroidScoring.score(arr, xn, nx, sqnx, cv, cn)

  def compute(arr: ArrayData): ArrayData = {
    val xn = arr.numElements()
    var nx = 0.0
    var i = 0
    while (i < xn) { val v = arr.getFloat(i).toDouble; nx += v * v; i += 1 }
    val sqnx = math.sqrt(nx)

    // level 1: top-wprobe coarse cells by (cos desc, id asc)
    val wCos = new Array[Double](wEff)
    val wIdx = new Array[Int](wEff)
    var wFilled = 0
    var c = 0
    while (c < coarse.length) {
      val cos = score(arr, xn, nx, sqnx, coarse(c)._2, coarseNorms(c))
      val cid = coarse(c)._1
      var pos = wFilled
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(cos, wCos(pos - 1))
        cmp > 0 || (cmp == 0 && cid < coarse(wIdx(pos - 1))._1)
      }) pos -= 1
      if (pos < wEff) {
        val lim = math.min(wFilled, wEff - 1)
        var m = lim
        while (m > pos) { wCos(m) = wCos(m - 1); wIdx(m) = wIdx(m - 1); m -= 1 }
        wCos(pos) = cos
        wIdx(pos) = c
        if (wFilled < wEff) wFilled += 1
      }
      c += 1
    }

    // level 2: top-k over the selected groups' fine members
    var kEff = 0
    var g = 0
    while (g < wFilled) { kEff += groups(wIdx(g)).length; g += 1 }
    kEff = math.min(k, kEff)
    val bestCos = new Array[Double](math.max(kEff, 1))
    val bestId = new Array[Long](math.max(kEff, 1))
    var filled = 0
    g = 0
    while (g < wFilled) {
      val grp = groups(wIdx(g))
      val grpN = groupNorms(wIdx(g))
      var f = 0
      while (f < grp.length) {
        val (fid, fv) = grp(f)
        val cos = score(arr, xn, nx, sqnx, fv, grpN(f))
        var pos = filled
        while (pos > 0 && {
          val cmp = java.lang.Double.compare(cos, bestCos(pos - 1))
          cmp > 0 || (cmp == 0 && fid < bestId(pos - 1))
        }) pos -= 1
        if (kEff > 0 && pos < kEff) {
          val lim = math.min(filled, kEff - 1)
          var m = lim
          while (m > pos) { bestCos(m) = bestCos(m - 1); bestId(m) = bestId(m - 1); m -= 1 }
          bestCos(pos) = cos
          bestId(pos) = fid
          if (filled < kEff) filled += 1
        }
        f += 1
      }
      g += 1
    }

    val rows = new Array[Any](filled)
    var r = 0
    while (r < filled) {
      rows(r) = org.apache.spark.sql.catalyst.InternalRow(bestId(r), bestCos(r))
      r += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("twoLevelCents", this,
      classOf[TwoLevelNearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelNearestCentroids =
    copy(child = newChild)
}

/** All sign-LSH bucket ids of a vector in ONE pass:
  * `output(t) = Σ_i (dot(vec, planes(t)(i)) >= 0 ? 1L << i : 0)`.
  *
  * Why one fused expression instead of composing `tables × bits`
  * [[DotProduct]]-under-`when` columns: the composed tree generates one
  * inlined dot loop per bit — at 12 tables × 13 bits the projection
  * stage's generated code exceeds JVM method limits and Spark silently
  * falls back to interpreted per-bit evaluation with per-element
  * boxing. Measured on the x100 scaling corpus (200k × 64 floats):
  * 92.5 s of a 94 s sign-LSH mining run was this projection; the fused
  * loop nest brings it to scan speed. Bit-exact parity with the
  * composed form: same double accumulation in ascending element order,
  * same `>= 0` sign rule, same `1L << i` bit placement.
  *
  * The plane tensor rides the expression as a plan-serialized reference
  * object (tables × bits × dim floats — ~40 KB at mining defaults). */
case class SignLshBuckets(child: Expression, planes: Array[Array[Array[Float]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def prettyName: String = "graft_sign_lsh_buckets"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      val table = planes(t)
      var acc = 0L
      var i = 0
      while (i < table.length) {
        val p = table(i)
        val n = math.min(x.numElements(), p.length)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += x.getFloat(j).toDouble * p(j).toDouble; j += 1 }
        if (dot >= 0.0) acc |= (1L << i)
        i += 1
      }
      out(t) = acc
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("signLshPlanes", planes, "float[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val table = ctx.freshName("table")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val j = ctx.freshName("j")
      s"""
         |long[] $out = new long[$planesRef.length];
         |for (int $t = 0; $t < $planesRef.length; $t++) {
         |  float[][] $table = $planesRef[$t];
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $table.length; $i++) {
         |    float[] $p = $table[$i];
         |    int $n = java.lang.Math.min($v.numElements(), $p.length);
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $dot += (double) $v.getFloat($j) * (double) $p[$j];
         |    }
         |    if ($dot >= 0.0) $acc |= (1L << $i);
         |  }
         |  $out[$t] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Signed (±1) random projection — Johnson-Lindenstrauss-style
  * dimensionality reduction with the Achlioptas sign matrix:
  * out(j) = Σ_i signs(j)(i)·x(i), accumulated in index order (double
  * promotion per element), NO normalization — callers that need
  * unit-scale divide by sqrt(outDim) themselves, and cosine is
  * scale-invariant anyway. The sign matrix rides as one reference
  * object; per-row work is a tight O(outDim·dim) JVM loop inside
  * whole-stage codegen. With an md5-derived matrix
  * ([[graft.ops.Quantize.srpSigns]]) the whole projection replays
  * verbatim in SQL. */
case class SignedProject(child: Expression, signs: Array[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(signs.nonEmpty, "sign matrix must be non-empty")

  override def prettyName: String = "graft_signed_project"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def compute(v: ArrayData): ArrayData = {
    val out = new Array[Any](signs.length)
    var j = 0
    while (j < signs.length) {
      val row = signs(j)
      val n = math.min(v.numElements(), row.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += row(i).toDouble * v.getFloat(i).toDouble; i += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  protected override def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signedProject", this, classOf[SignedProject].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignedProject =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column-level cosine similarity backed by the codegen expression. */
  def cosine(a: Column, b: Column): Column =
    GraftSqlShim.column(CosineSimilarity(expr(a), expr(b)))

  def dot(a: Column, b: Column): Column =
    GraftSqlShim.column(DotProduct(expr(a), expr(b)))

  /** Pack int8 codes into a binary column (4× smaller than the floats). */
  def packInt8(codes: Column): Column =
    GraftSqlShim.column(PackInt8(expr(codes)))

  /** Integer dot product over packed-int8 code vectors. */
  def int8Dot(a: Column, b: Column): Column =
    GraftSqlShim.column(Int8DotProduct(expr(a), expr(b)))

  /** Count of agreeing lanes between two minhash signatures. */
  def sigMatchCount(a: Column, b: Column): Column =
    GraftSqlShim.column(SigMatchCount(expr(a), expr(b)))

  /** Signature packed to one byte per lane (estimator-join form). */
  def packSigBytes(sig: Column): Column =
    GraftSqlShim.column(PackSigBytes(expr(sig)))

  /** Count of agreeing bytes between two packed signatures. */
  def byteMatchCount(a: Column, b: Column): Column =
    GraftSqlShim.column(ByteMatchCount(expr(a), expr(b)))

  /** All sign-LSH table buckets of a vector in one fused pass. */
  def signLshBuckets(vec: Column, planes: Array[Array[Array[Float]]]): Column =
    GraftSqlShim.column(SignLshBuckets(expr(vec), planes))

  /** Top-k nearest (centroid id, cosine) structs against a
    * driver-resident model, ranked cos DESC / id ASC. */
  def nearestCentroidsScored(vec: Column, cents: Array[(Long, Array[Float])],
                             k: Int): Column =
    GraftSqlShim.column(NearestCentroids(expr(vec), cents, k))

  /** Top-k nearest centroid ids against a driver-resident model. */
  def nearestCentroids(vec: Column, cents: Array[(Long, Array[Float])],
                       k: Int): Column =
    org.apache.spark.sql.functions.transform(
      nearestCentroidsScored(vec, cents, k), s => s.getField("cid"))

  /** Two-level tree probe, scored: top-k (cid, cos) structs through the
    * coarse-quantizer tree ([[TwoLevelNearestCentroids]]). */
  def twoLevelNearestCentroidsScored(vec: Column,
                                     coarse: Array[(Long, Array[Float])],
                                     groups: Array[Array[(Long, Array[Float])]],
                                     wprobe: Int, k: Int): Column =
    GraftSqlShim.column(
      TwoLevelNearestCentroids(expr(vec), coarse, groups, wprobe, k))

  /** Top-k nearest fine-centroid ids through the coarse-quantizer
    * tree. */
  def twoLevelNearestCentroids(vec: Column,
                               coarse: Array[(Long, Array[Float])],
                               groups: Array[Array[(Long, Array[Float])]],
                               wprobe: Int, k: Int): Column =
    org.apache.spark.sql.functions.transform(
      twoLevelNearestCentroidsScored(vec, coarse, groups, wprobe, k),
      s => s.getField("cid"))

  /** m-byte product-quantization code of a vector. */
  def pqEncode(vec: Column, model: PqModel): Column =
    GraftSqlShim.column(PqEncode(expr(vec), model))

  /** Flat m·ksub ADC inner-product table of a query vector. */
  def pqDistTable(vec: Column, model: PqModel): Column =
    GraftSqlShim.column(PqDistTable(expr(vec), model))

  /** ADC score: Σ_j table[j·ksub + codes[j]]. */
  def pqAdcScore(codes: Column, table: Column, ksub: Int): Column =
    GraftSqlShim.column(PqAdcScore(expr(codes), expr(table), ksub))

  /** ±1 random projection against a driver-resident sign matrix. */
  def signedProject(vec: Column, signs: Array[Array[Float]]): Column =
    GraftSqlShim.column(SignedProject(expr(vec), signs))

  private def expr(c: Column): Expression = GraftSqlShim.expression(c)
}
