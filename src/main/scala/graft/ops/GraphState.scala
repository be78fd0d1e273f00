package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Graph views as MAINTAINED state tables: a corpus graph's canonical
  * edge set and one derived view of it persist as a PAIR of catalog
  * tables that edge deltas advance in place — the
  * [[Warehouse]]/[[Incremental]] q177/q188 posture applied to the
  * graph family. At a 100 TB corpus where a crawl delta lands hourly,
  * an advance must never re-read or re-canonicalize history: every
  * view's advance core consumes the stored canonical edges directly
  * (e.g. [[Graph.advanceTriangleCore]] — zero |E| distinct, zero |E|
  * shuffle when the delta fits the broadcast gate).
  *
  * State layout for a pair named `g` maintaining view `v`:
  *  - `g_edges(a, b)` — canonical simple undirected pairs (a < b,
  *    distinct), the ground truth;
  *  - `g_<v.suffix>` — the derived view (see [[View]]: triangle
  *    stats, k-core survivors, HyperANF registers, communities).
  *
  * One protocol serves every view: [[init]] creates the pair at epoch
  * 0, [[advance]] / [[retract]] fold an edge change in, [[recover]]
  * resolves an interrupted change, [[drop]] removes the pair and its
  * stagings. [[plan]] exposes an advance's output plans without
  * writing, so the plan-assert specs and `ExplainDump` can prove an
  * advance scans ONLY the pair and the delta (the q152 discipline).
  *
  * Crash safety: both `__next` stagings materialize fully BEFORE any
  * swap; the swaps then run ground-truth-first (edges, then view).
  * Each table carries its advance EPOCH as a `graft.epoch` table
  * property, and a parameterized view also its parameter (e.g.
  * `graft.kcore.k`), both stamped in one statement on the staging
  * before its swap (renames carry properties along), so [[recover]]
  * can resolve every crash window:
  *  - crash during staging → both live tables intact at the same
  *    epoch; danglers drop (`resolved`); the caller re-applies the
  *    change (an advance dedups against the edge set, a retraction
  *    ignores absent edges, so re-application is safe);
  *  - crash between the two swaps → edges live at epoch e+1, the view
  *    at e with a COMPLETE staged `__next` at e+1 (a catalog-committed
  *    staging is a finished write): the staging is PROMOTED, no
  *    recount (`promoted-staged-<suffix>`);
  *  - staged view lost or unstamped → the view is REBUILT from the
  *    edges table under the parameter stored on it
  *    (`rebuilt-<suffix>`; the derived view is always recomputable
  *    from what survives the window — the safe fallback, taken only
  *    on a crash inside the one swap window).
  */
object GraphState {

  /** A derived view maintained on a pair's `g_edges`: its table
    * suffix, its parameter (stamped with the epoch so recovery can
    * rebuild under it), its build from ground truth and its |D|-bounded
    * advance core. Only [[Retractable]] views carry a retraction
    * core. */
  sealed abstract class View(private[ops] val suffix: String) {
    /** (table property, value) of the view's parameter, if any. */
    private[ops] def param: Option[(String, Int)]
    /** This view under parameter `p` (the one stored on its table). */
    private[ops] def withParam(p: Int): View
    /** The view from scratch over canonical `edges`; `prev` is the
      * live view on a crash rebuild, `None` at init. */
    private[ops] def build(edges: DataFrame, prev: Option[DataFrame]): DataFrame
    /** (newEdges, newView) plans from the live pair + a canonical
      * delta. */
    private[ops] def advanceCore(prev: DataFrame, edges: DataFrame,
                                 delta: DataFrame): (DataFrame, DataFrame)
  }

  /** A view an edge retraction (takedowns) can shrink in place. */
  sealed abstract class Retractable(suffix: String) extends View(suffix) {
    private[ops] def retractCore(prev: DataFrame, edges: DataFrame,
                                 removed: DataFrame): (DataFrame, DataFrame)
  }

  /** `g_stats(node, degree, n_triangles, clustering)` — exactly
    * [[Graph.triangleStats]]' output over `g_edges`. */
  case object Triangles extends Retractable("stats") {
    private[ops] def param: Option[(String, Int)] = None
    private[ops] def withParam(p: Int): View = this
    private[ops] def build(edges: DataFrame, prev: Option[DataFrame]): DataFrame =
      Graph.triangleStatsCore(edges)
    private[ops] def advanceCore(prev: DataFrame, edges: DataFrame,
                                 delta: DataFrame): (DataFrame, DataFrame) =
      Graph.advanceTriangleCore(prev, edges, delta)
    private[ops] def retractCore(prev: DataFrame, edges: DataFrame,
                                 removed: DataFrame): (DataFrame, DataFrame) =
      Graph.retractTriangleCore(prev, edges, removed)
  }

  /** `g_core(node, deg)` — the STABILIZED k-core survivor set
    * ([[Graph.kCoreFixedPoint]], since [[Graph.advanceKCoreCore]]'s
    * pass-through is only valid from a fixed point). A retraction is
    * the deletion cascade ([[Graph.retractKCoreCore]]: the core only
    * shrinks; the cascade region grows outward from the removed
    * edges' core endpoints). */
  final case class KCore(k: Int) extends Retractable("core") {
    private[ops] def param = Some("graft.kcore.k" -> k)
    private[ops] def withParam(p: Int): View = KCore(p)
    private[ops] def build(edges: DataFrame, prev: Option[DataFrame]): DataFrame =
      Graph.kCoreFixedPointCore(edges, k)
    private[ops] def advanceCore(prev: DataFrame, edges: DataFrame,
                                 delta: DataFrame): (DataFrame, DataFrame) =
      Graph.advanceKCoreCore(prev, edges, delta, k)
    private[ops] def retractCore(prev: DataFrame, edges: DataFrame,
                                 removed: DataFrame): (DataFrame, DataFrame) =
      Graph.retractKCoreCore(prev, edges, removed, k)
  }

  /** `g_anf(t, node, regs)` — the full portable-HLL register ladder
    * for levels 0..t. Registers are max-mergeable and monotone, so an
    * edge delta advances the ladder by EXACT per-level
    * changed-frontier propagation ([[Graph.advanceAnfCore]]) — the
    * maintained ladder is register-bit-identical to a from-scratch
    * t-round run over the stored edges, which keeps the view a pure
    * function of ground truth AND lets q243's oracle be the plain
    * from-scratch unroll. */
  final case class Anf(t: Int) extends View("anf") {
    private[ops] def param = Some("graft.anf.t" -> t)
    private[ops] def withParam(p: Int): View = Anf(p)
    private[ops] def build(edges: DataFrame, prev: Option[DataFrame]): DataFrame =
      Graph.anfRegisters(edges, t)
    private[ops] def advanceCore(prev: DataFrame, edges: DataFrame,
                                 delta: DataFrame): (DataFrame, DataFrame) =
      Graph.advanceAnfCore(prev, edges, delta, t)
  }

  /** `g_comm(node, community)` — the WARM-maintained Louvain
    * assignment: each advance re-runs AT MOST `iters` deterministic
    * fine rounds over the new edge set seeded from the previous
    * assignment, stopping early once two consecutive rounds move
    * nothing ([[Graph.advanceCommCore]] / [[Graph.louvainStable]]'s
    * rule), so untouched communities re-stabilize in zero moves and
    * only the delta's neighborhood re-settles. Unlike the other views
    * the assignment is NOT a pure function of the edge set — it is a
    * pure function of (edge set, previous assignment), which is
    * exactly the pair that survives every crash window (edges swap
    * first, the view second), so a crash rebuild replays the
    * interrupted advance BIT-IDENTICALLY rather than falling back to
    * a different valid result. Re-delivering a wave whose advance
    * stabilized is the identity; pick `iters` generous enough that
    * advances stabilize if the delivery layer may re-send waves. */
  final case class Communities(iters: Int) extends View("comm") {
    private[ops] def param = Some("graft.comm.iters" -> iters)
    private[ops] def withParam(p: Int): View = Communities(p)
    private[ops] def build(edges: DataFrame, prev: Option[DataFrame]): DataFrame =
      Graph.louvainCanon(edges, iters, seed = prev)
    private[ops] def advanceCore(prev: DataFrame, edges: DataFrame,
                                 delta: DataFrame): (DataFrame, DataFrame) =
      Graph.advanceCommCore(prev, edges, delta, iters)
  }

  private def edgesTable(name: String): String = s"${name}_edges"
  private def viewTable(name: String, view: View): String =
    s"${name}_${view.suffix}"
  private val EpochKey = "graft.epoch"

  private def propsOf(spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).properties

  /** Epoch stamped on `table` (−1 = missing table or never stamped). */
  private[graft] def epochOf(spark: SparkSession, table: String): Long =
    if (!spark.catalog.tableExists(table)) -1L
    else propsOf(spark, table).getOrElse(EpochKey, "-1").toLong

  /** Stamp `table`'s epoch and, for a view table, its parameter — one
    * statement, so no table is ever stamped with one and not the
    * other. */
  private def stamp(spark: SparkSession, table: String, epoch: Long,
                    param: Option[(String, Int)]): Unit = {
    val props = (EpochKey -> epoch) +: param.toSeq.map { case (k, v) => k -> v.toLong }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")
  }

  /** The maintained canonical edge set (a, b). */
  def edges(spark: SparkSession, name: String): DataFrame =
    spark.table(edgesTable(name))

  /** The maintained view — what a report reads. */
  def table(spark: SparkSession, name: String, view: View): DataFrame =
    spark.table(viewTable(name, view))

  /** Drop the pair's six tables (live, `__next`, `__old` of both) and
    * their warehouse directories. */
  def drop(spark: SparkSession, name: String, view: View): Unit =
    Incremental.dropStateTables(spark, edgesTable(name), viewTable(name, view))

  /** Create the pair at epoch 0 from a raw edge frame (one full
    * canonicalization + one full build of the view — the LAST time
    * either happens; every later change is an advance). `edges` may
    * be empty: a streaming loop starts from the empty graph and folds
    * arrival waves in. */
  def init(spark: SparkSession, name: String, view: View, edges: DataFrame,
           srcCol: String, dstCol: String): Unit = {
    val eT = edgesTable(name); val vT = viewTable(name, view)
    drop(spark, name, view)
    PhaseTimer.time("init") {
      Graph.canonPairs(edges, srcCol, dstCol).write.saveAsTable(eT)
      stamp(spark, eT, 0L, None)
      view.build(spark.table(eT), None).write.saveAsTable(vT)
      stamp(spark, vT, 0L, view.param)
    }
  }

  /** The advanced (newEdges, newView) PLANS from the live pair + a raw
    * delta — no writes (the plan-assert surface); [[advance]] stages
    * and swaps exactly these. */
  def plan(spark: SparkSession, name: String, view: View, delta: DataFrame,
           srcCol: String, dstCol: String): (DataFrame, DataFrame) =
    view.advanceCore(table(spark, name, view), edges(spark, name),
      Graph.canonPairs(delta, srcCol, dstCol))

  /** Fold an edge delta into the pair: the view's |D|-bounded advance
    * core + the stage-both-then-swap-both protocol. Already-present
    * and duplicate delta edges are no-ops, so re-applying a delta
    * after a resolved crash is safe. */
  def advance(spark: SparkSession, name: String, view: View, delta: DataFrame,
              srcCol: String, dstCol: String): Unit =
    stageAndSwap(spark, name, view)(
      plan(spark, name, view, delta, srcCol, dstCol))

  /** Retract an edge set (takedowns) from the pair — the deletion
    * side, same protocol. Rows not actually present are ignored, so
    * re-applying a retraction after a resolved crash is safe. */
  def retract(spark: SparkSession, name: String, view: Retractable,
              removed: DataFrame, srcCol: String, dstCol: String): Unit =
    stageAndSwap(spark, name, view)(
      view.retractCore(table(spark, name, view), edges(spark, name),
        Graph.canonPairs(removed, srcCol, dstCol)))

  private def stageAndSwap(spark: SparkSession, name: String, view: View)
                          (change: => (DataFrame, DataFrame)): Unit = {
    val (newE, newV) = PhaseTimer.time("advance")(change)
    PhaseTimer.time("stage") {
      val eT = edgesTable(name); val vT = viewTable(name, view)
      val (eNext, vNext) = (Incremental.staged(eT), Incremental.staged(vT))
      val ep = epochOf(spark, eT) + 1
      Tables.dropTablesAndDirs(spark, eNext, vNext)
      // stage BOTH fully (both plans read the LIVE pair) before any
      // swap; every property rides the STAGING so no crash window
      // leaves a live table missing one. The two staging writes are
      // INDEPENDENT jobs (each reads only live tables + the advance's
      // materialized intermediates), so they run CONCURRENTLY (guide
      // §2.6 — the second job's tasks back-fill the first's scheduling
      // tail); stamps and swaps wait for both, keeping every crash
      // window of the sequential protocol.
      val vWrite = java.util.concurrent.CompletableFuture.runAsync { () =>
        // common-pool threads don't reliably inherit the session
        // thread-local (ADVICE r15): pin it so planning paths that
        // consult getActiveSession see THIS session, not a default
        // one, and put back what the pooled thread had, so the pin
        // does not outlive this task
        val prior = SparkSession.getActiveSession
        SparkSession.setActiveSession(newV.sparkSession)
        try newV.write.saveAsTable(vNext)
        finally prior match {
          case Some(s) => SparkSession.setActiveSession(s)
          case None => SparkSession.clearActiveSession()
        }
      }
      // propagate either failure before any stamp — without masking: a
      // join() failure inside a bare finally would REPLACE an in-flight
      // edges-write exception (ADVICE r15), so it is attached as
      // suppressed instead when both writes fail
      var primary: Throwable = null
      try newE.write.saveAsTable(eNext)
      catch { case t: Throwable => primary = t; throw t }
      finally {
        try vWrite.join()
        catch {
          case j: Throwable =>
            if (primary == null) throw j else { primary.addSuppressed(j); () }
        }
      }
      stamp(spark, vNext, ep, view.param)
      stamp(spark, eNext, ep, None)
      // ground truth first: edges, then the derived view
      Incremental.swapStaged(spark, eT)
      Incremental.swapStaged(spark, vT)
    }
  }

  /** Detect and resolve an interrupted advance or retraction (see the
    * object doc's crash-window list). `view` names the pair; a rebuild
    * runs under the parameter stored on the view table, not `view`'s.
    * Returns what it did: `"clean"`, `"resolved"` (danglers dropped —
    * re-apply the change), `"promoted-staged-<suffix>"` (the completed
    * staging finished its swap), or `"rebuilt-<suffix>"` (the view
    * recomputed from the surviving edges, and for [[Communities]] the
    * surviving previous assignment). */
  def recover(spark: SparkSession, name: String, view: View): String = {
    val eT = edgesTable(name); val vT = viewTable(name, view)
    val r1 = Incremental.recoverStateTable(spark, eT)
    val eEp = epochOf(spark, eT)
    val vNext = Incremental.staged(vT)
    if (spark.catalog.tableExists(vT) &&
        spark.catalog.tableExists(vNext) && epochOf(spark, vNext) == eEp &&
        epochOf(spark, vT) != eEp) {
      Incremental.swapStaged(spark, vT)
      s"promoted-staged-${view.suffix}"
    } else {
      // a half-swapped view (live missing, staging present) is
      // completed by the generic recovery; the epoch check below then
      // confirms it caught up
      val r2 = Incremental.recoverStateTable(spark, vT)
      if (epochOf(spark, vT) != eEp) {
        val stored = view.param.fold(view) { case (key, p) =>
          view.withParam(propsOf(spark, vT).get(key).fold(p)(_.toInt)) }
        Incremental.transformStateTable(spark, vT)(prev =>
          stored.build(spark.table(eT), Some(prev)))
        stamp(spark, vT, eEp, stored.param)
        s"rebuilt-${view.suffix}"
      } else if (r1 == "clean" && r2 == "clean") "clean"
      else "resolved"
    }
  }
}
