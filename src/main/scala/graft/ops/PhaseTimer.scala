package graft.ops

/** Opt-in sub-query phase accounting for the bench members artifact
  * (round-14 verdict #7): q231/q232-class gate entries build their own
  * BASE structure in-gate (the full fixed-point peel, the register
  * init) before the operation the query exists to measure, and the
  * single member number conflates the two. [[graft.Bench]] sets a
  * context (the member key) around each query; code wrapped in
  * [[time]] then records `<member>.<label>` seconds, which Bench
  * appends to `BENCH_MEMBERS.json` as extra members — base and
  * advance separate in the bench artifact itself, with no side tool.
  * [[GraphState]] records `init`, `advance` (building the change's
  * plans and the advance core's eager work) and `stage` (the staging
  * writes and swaps). Outside a bench pass (Verify, tests, library
  * use) the context is empty and [[time]] is a zero-overhead
  * pass-through.
  *
  * Phase keys deliberately contain a '.' so the bench stdout rollup
  * can exclude them (they are components of an already-reported
  * member, not additional cost). */
object PhaseTimer {
  @volatile private var ctx: String = ""
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private[graft] def setContext(c: String): Unit = { ctx = c }
  private[graft] def clearContext(): Unit = { ctx = "" }

  /** Time `f` under the current context as `<ctx>.<label>` (summed if
    * hit twice in one query); a pass-through when no context is set. */
  def time[A](label: String)(f: => A): A = {
    val c = ctx
    if (c.isEmpty) f
    else {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      acc.merge(s"$c.$label", java.lang.Double.valueOf(dt),
        (a, b) => java.lang.Double.valueOf(a.doubleValue + b.doubleValue))
      r
    }
  }

  /** Drain all recorded phases (sorted by key) and reset. */
  private[graft] def drain(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val it = acc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out += ((e.getKey, e.getValue.doubleValue))
    }
    acc.clear()
    out.sortBy(_._1).toSeq
  }
}
