package graft.functions

/** Scalar UDF surface (SURVEY.md §2b "UDF surface").
  *
  * Policy: built-in functions first (codegen'd), custom Catalyst
  * Expression second (graft.functions.VectorExpressions), Scala UDF last —
  * a UDF boxes its inputs and blocks whole-stage codegen, so these exist
  * for genuinely irregular scalar logic only.
  */
object GraftUdfs {

  /** Shannon entropy (bits/char) of a string — a quality-filter signal
    * with data-dependent control flow that has no built-in equivalent
    * (SQL `graft_char_entropy`). */
  val charEntropy: String => Double = { s =>
    if (s == null || s.isEmpty) 0.0
    else {
      val counts = s.groupMapReduce(identity)(_ => 1L)(_ + _)
      val n = s.length.toDouble
      -counts.values.map { c =>
        val p = c / n
        p * math.log(p) / math.log(2.0)
      }.sum
    }
  }
}
