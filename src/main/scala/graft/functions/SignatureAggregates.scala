package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Single-pass signature aggregates for near-duplicate mining.
  *
  * The naive formulation of a MinHash signature (one `min(pmod(h*a+b, p))`
  * aggregate column per hash function) or a SimHash fingerprint (one
  * `sum(when(bit))` per bit) puts a 48–64-column-wide mutable buffer into
  * HashAggregate — exactly where Spark's aggregation falls off the fast
  * path (row-at-a-time updates over a wide buffer; round-1 bench: the
  * three dedup queries cost 174 s of a 258 s total). These aggregates
  * collapse the whole signature into ONE function with a primitive
  * `Array[Long]` buffer updated in a tight JVM loop per input row:
  * O(numHashes) multiply-mods with no per-lane expression dispatch, O(1)
  * objects per row, and map-side partial merge (elementwise min / sum), so
  * the shuffle still carries `numHashes` longs per document.
  *
  * Arithmetic is kept bit-identical to the expression formulation
  * (same universal-hash family, same `Random(42)` coefficient stream),
  * so LSH candidate generation — and therefore the oracle-checked output
  * of the dedup queries — is unchanged.
  */
case class MinHashSig(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(numHashes > 0, "numHashes must be positive")

  override def prettyName: String = "graft_minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val (as, bs) = MinHashSig.coeffs(numHashes)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long] // pre-reduced to [0, p) upstream
      var i = 0
      while (i < numHashes) {
        val x = (h * as(i) + bs(i)) % MinHashSig.MersennePrime
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (b(i) < a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf, numHashes))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    var i = 0
    while (i < numHashes) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic affine coefficients for the universal hash family
    * h_i(x) = (a_i * x + b_i) mod p — the exact `Random(42)` stream the
    * round-1 expression formulation used, so signatures are bit-stable
    * across the refactor. */
  def coeffs(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(numHashes)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Aggregate column: MinHash signature (array<bigint> of `numHashes`
    * lanes) over a pre-hashed shingle column in [0, 2^31-1). */
  def sig(h: Column, numHashes: Int): Column =
    GraftSqlShim.column(
      MinHashSig(GraftSqlShim.expression(h), numHashes).toAggregateExpression())

  /** Per-row signature over a shingle ARRAY column — the preferred form
    * when shingles are row-local (see [[MinHashSigRow]]). */
  def sigRow(shingles: Column, numHashes: Int): Column =
    GraftSqlShim.column(MinHashSigRow(GraftSqlShim.expression(shingles), numHashes))

  /** Per-row signature over CHARACTER n-grams of a text column,
    * without materializing the gram array (see [[MinHashSigChars]]). */
  def sigCharsRow(text: Column, n: Int, numHashes: Int): Column =
    GraftSqlShim.column(MinHashSigChars(GraftSqlShim.expression(text), n, numHashes))
}

/** MinHash signature as ONE per-row expression over the shingle array.
  *
  * When the shingles of a document are already a row-local array, the
  * explode → hash → re-aggregate pipeline pays for materializing
  * |docs| × |shingles| rows, per-row aggregate dispatch, and a shuffle —
  * only to reassemble what was row-local to begin with (profiled: the
  * signature stage was ~70% of q35's runtime). This expression does the
  * whole signature in one tight JVM loop per document: hash each shingle
  * once with the SAME xxhash64 the column pipeline used
  * (XxHash64Function, seed 42), reduce mod 2^31-1, update all lanes.
  * No explode, no aggregation, no shuffle — the signature stage becomes
  * a pure map over the corpus scan. Bit-identical to
  * explode + [[MinHashSig]] (same hash, same `Random(42)` coefficient
  * stream, same min fold), which remains available for genuinely
  * pre-exploded inputs (e.g. token streams).
  */
case class MinHashSigRow(child: Expression, numHashes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")

  override def prettyName: String = "graft_minhash_sig_row"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val (as, bs) = MinHashSig.coeffs(numHashes)

  /** The whole-signature loop; also the codegen target (the generated
    * stage makes ONE call per row into this compiled method, so the
    * projection stays inside the surrounding WholeStageCodegen span). */
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.sql.catalyst.util.ArrayData = {
    val p = MinHashSig.MersennePrime
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val raw = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(s, org.apache.spark.sql.types.StringType, 42L)
        val h = ((raw % p) + p) % p // pmod, as in the column pipeline
        var j = 0
        while (j < numHashes) {
          val x = (h * as(j) + bs(j)) % p
          if (x < mins(j)) mins(j) = x
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigRow", this, classOf[MinHashSigRow].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigRow =
    copy(child = newChild)
}

/** 64-bit SimHash as one aggregate: the buffer is the 64 per-bit ±1 vote
  * counters; `eval` assembles the fingerprint (bit set iff votes > 0).
  * Bit-for-bit the same fingerprint as the 64-sum-columns formulation. */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long] // full-range token hash
      var bit = 0
      while (bit < 64) {
        // arithmetic shift matches Spark's shiftright(h, bit) & 1
        buf(bit) += (if (((h >> bit) & 1L) == 1L) 1L else -1L)
        bit += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var sim = 0L
    var bit = 0
    while (bit < 64) {
      if (buf(bit) > 0L) sim |= (1L << bit)
      bit += 1
    }
    sim
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * 64)
    var i = 0
    while (i < 64) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](64)
    var i = 0
    while (i < 64) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashAgg =
    copy(child = newChild)
}

object SimHashAgg {
  /** Aggregate column: 64-bit SimHash fingerprint over token hashes. */
  def sim(h: Column): Column =
    GraftSqlShim.column(SimHashAgg(GraftSqlShim.expression(h)).toAggregateExpression())

  /** Per-row fingerprint over a token ARRAY column (see [[SimHashRow]]). */
  def simRow(tokens: Column): Column =
    GraftSqlShim.column(SimHashRow(GraftSqlShim.expression(tokens)))
}

/** MinHash over character n-grams, straight off the text — no gram
  * array is ever built. `charShingles(text, n)` materializes ~|text|
  * five-char strings per document plus an array_distinct pass before
  * [[MinHashSigRow]] can fold them; but a min fold is
  * duplicate-insensitive (min over a multiset equals min over its set),
  * so this expression hashes each sliding substring directly and
  * produces the BIT-IDENTICAL signature (same substring semantics as
  * `Column.substr`, same xxhash64 seed, same affine family — pinned by
  * an equivalence test). Grams shorter than n occur only for texts
  * shorter than n, exactly like charShingles' single truncated gram. */
case class MinHashSigChars(child: Expression, n: Int, numHashes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(n > 0 && numHashes > 0, "n and numHashes must be positive")

  override def prettyName: String = "graft_minhash_chars"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val (as, bs) = MinHashSig.coeffs(numHashes)

  def compute(text: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte
    val p = MinHashSig.MersennePrime
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val nb = text.numBytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    // sliding byte window over n characters — O(len) total, no
    // per-gram substring allocation (substringSQL re-scans from the
    // string start per call: O(len²) on long docs)
    var endB = 0
    var c = 0
    while (c < n && endB < nb) {
      endB += numBytesForFirstByte(text.getByte(endB)); c += 1
    }
    val count = math.max(text.numChars() - n + 1, 1)
    // open-addressing seen-set of gram hashes: natural text repeats
    // grams heavily, so the numHashes-lane fold runs only once per
    // DISTINCT gram (what array_distinct bought the array formulation)
    // while still never materializing gram strings. Stored value is
    // h + 1 so 0 can be the empty slot. The table is an OPTIMIZATION
    // only — the min fold is duplicate-insensitive, so skipping dedup
    // changes nothing — which lets us bound it: cap is computed in Long
    // (count * 2 overflows Int for ~2^30-char docs) and clamped so a
    // huge document costs at most a 4 MB table, and once the clamped
    // table is nearly full we stop inserting and fold every gram
    // directly (keeping free slots so probes always terminate).
    val maxCap = 1 << 19
    var capL = 16L
    while (capL < count.toLong * 2 && capL < maxCap) capL <<= 1
    val cap = capL.toInt
    val seen = new Array[Long](cap)
    val mask = cap - 1
    val fillLimit = cap - (cap >>> 3)
    var filled = 0
    var startB = 0
    var i = 0
    while (i < count) {
      val raw = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + startB, endB - startB, 42L)
      val h = ((raw % p) + p) % p
      var fresh = true
      if (filled < fillLimit) {
        var slot = (h & mask).toInt
        while (seen(slot) != 0L && seen(slot) != h + 1) slot = (slot + 1) & mask
        if (seen(slot) == 0L) { seen(slot) = h + 1; filled += 1 }
        else fresh = false
      }
      if (fresh) {
        var j = 0
        while (j < numHashes) {
          val x = (h * as(j) + bs(j)) % p
          if (x < mins(j)) mins(j) = x
          j += 1
        }
      }
      if (i + 1 < count) {
        startB += numBytesForFirstByte(text.getByte(startB))
        if (endB < nb) endB += numBytesForFirstByte(text.getByte(endB))
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigChars", this, classOf[MinHashSigChars].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigChars =
    copy(child = newChild)
}

/** 64-bit SimHash as ONE per-row expression over the token array — the
  * same explode-free reasoning as [[MinHashSigRow]]: tokens are
  * row-local, so the fingerprint folds in one JVM loop per document
  * (hash each token once with xxhash64 seed 42, 64 ±1 votes, assemble).
  * Bit-identical to explode + [[SimHashAgg]].
  *
  * Accepts either `array<string>` (tokens, hashed internally with
  * xxhash64) or `array<long>` (PRE-hashed tokens — e.g. the portable
  * md5-derived hash a differential oracle can recompute verbatim,
  * [[graft.ops.Dedup.portableHash64]]); the vote/assemble fold is
  * identical in both modes. */
case class SimHashRow(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def prettyName: String = "graft_simhash_row"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  /** True when the input carries pre-hashed 64-bit token hashes.
    * Lazy: child.dataType is only callable once the child is resolved. */
  private lazy val preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string> or array<long>, got ${other.catalogString}")
    }

  /** Whole-fingerprint loop; codegen target (one call per row, see
    * [[MinHashSigRow.compute]]). */
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val votes = new Array[Long](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h =
          if (preHashed) arr.getLong(i)
          else org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(arr.getUTF8String(i), org.apache.spark.sql.types.StringType, 42L)
        var bit = 0
        while (bit < 64) {
          votes(bit) += (if (((h >> bit) & 1L) == 1L) 1L else -1L)
          bit += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0L) sim |= (1L << bit)
      bit += 1
    }
    sim
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("simhashRow", this, classOf[SimHashRow].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashRow =
    copy(child = newChild)
}
