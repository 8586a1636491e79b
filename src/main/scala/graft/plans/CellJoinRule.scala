package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graft.{CellJoinFallback, StCover, StCoverCount, StIntersects}

/** Optimizer rule: rewrite naive spatial-predicate joins
  *
  *   points JOIN polys ON st_contains_point(polys.wkb, points.lon, points.lat)
  *   a      JOIN b     ON st_intersects(a.wkb, b.wkb)
  *
  * — which Spark can only plan as nested-loop / cartesian joins, O(n·m)
  * predicate evaluations — into cell-indexed joins:
  *
  *   point case:  the join becomes a [[PipJoin]] (st_intersects_point sets
  *                its boundary flag), which [[PipJoinStrategy]] plans as
  *                [[BroadcastPipJoinExec]]: polygons indexed by cell cover
  *                and broadcast, one cell probe per point, exact refine.
  *                Oversized covers go to the exec's always-probed side list.
  *   geom case:   both sides explode their covers and equi-join on the cell;
  *                a pair sharing k cells would appear k times, so the join
  *                keeps only the row whose matched cell is the MINIMUM cell
  *                shared by both covers (array_min ∘ array_intersect — the
  *                classic report-at-smallest-common-cell dedup, fully
  *                distributed, no aggregation barrier), then refines with
  *                the original predicate. The equi-join key lets Catalyst
  *                pick broadcast-hash or sort-merge (and AQE handle skew)
  *                instead of a quadratic loop.
  *
  * Geom-case oversize guard (geometries whose cover at the chosen zoom
  * would exceed CellId.cover's 4096-cell cap — continental polygons at a
  * fine zoom): each side is split by the cheap envelope-only
  * st_cover_count predicate; fitting rows take the cell join, oversized
  * rows fall back to the original nested-loop join, and the branches
  * union. A user-raised spark.graft.celljoin.zoom therefore degrades those
  * rows to the naive (slow but correct) path instead of throwing mid-query.
  *
  * Reference analog: OGR's layer-algebra loop installs a spatial filter per
  * probe feature (ogrlayer.cpp:5385-5538) — its index-accelerated candidate
  * scan is exactly what this rewrite recovers declaratively.
  *
  * The rule fires only when the join condition IS the bare spatial
  * predicate; its own output never is (the cell branch ANDs it with the
  * cell keys, the fallback branches wrap it in CellJoinFallback, which no
  * optimizer rule folds), so it never re-fires. Zoom is configurable with
  * `spark.graft.celljoin.zoom` (default 4, clamped to [0, 18]). Register
  * at runtime through `spark.experimental.extraOptimizations`
  * (GraftFunctions.register) or at build time via GraftExtensions. */
object CellJoinRule extends Rule[LogicalPlan] {

  /** Matches CellId.cover's default cap. */
  private val MaxCoverCells = 4096L

  private def zoom: Int = {
    val z =
      try SQLConf.get.getConfString("spark.graft.celljoin.zoom", "4").toInt
      catch { case _: Exception => 4 }
    math.max(0, math.min(18, z))
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    val z = zoom
    plan.transform {
      case j: Join => PipJoin.lower(j, z).orElse(lowerGeom(j, z)).getOrElse(j)
    }
  }

  /** Split a geometry-bearing side into (cover fits, cover oversized).
    * Rows with a null wkb go nowhere — the original predicate would have
    * evaluated to null and dropped them from the inner join anyway. */
  private def splitByCoverSize(side: LogicalPlan, wkb: Expression, z: Int)
      : (LogicalPlan, LogicalPlan) = {
    val cnt = StCoverCount(wkb, Literal(z))
    (Filter(LessThanOrEqual(cnt, Literal(MaxCoverCells)), side),
     Filter(GreaterThan(cnt, Literal(MaxCoverCells)), side))
  }

  /** The fallback nested-loop branch: original join shape, predicate
    * wrapped in CellJoinFallback so this rule cannot re-fire on it. */
  private def naiveBranch(out: Seq[Attribute], l: LogicalPlan, r: LogicalPlan,
                          pred: Expression, hint: JoinHint): LogicalPlan =
    Project(out, Join(l, r, Inner, Some(CellJoinFallback(pred)), hint))

  private def rewriteGeom(j: Join, pred: Expression, wl: Expression,
                          wr: Expression, hint: JoinHint, z: Int): LogicalPlan = {
    val (lFit, lBig) = splitByCoverSize(j.left, wl, z)
    val (rFit, rBig) = splitByCoverSize(j.right, wr, z)
    // each side carries its full (sorted) cover array AND the exploded cell
    val covL = Alias(StCover(wl, Literal(z)), "__graft_cov_l")()
    val lProj = Project(j.left.output :+ covL, lFit)
    val cellL = AttributeReference("__graft_cell_l", LongType, nullable = false)()
    val lExp = Generate(Explode(covL.toAttribute), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellL), child = lProj)
    val covR = Alias(StCover(wr, Literal(z)), "__graft_cov_r")()
    val rProj = Project(j.right.output :+ covR, rFit)
    val cellR = AttributeReference("__graft_cell_r", LongType, nullable = false)()
    val rExp = Generate(Explode(covR.toAttribute), Nil, outer = false,
      qualifier = None, generatorOutput = Seq(cellR), child = rProj)
    // dedup: report the pair only at the smallest cell both covers share
    val minCommon = ArrayMin(ArrayIntersect(covL.toAttribute, covR.toAttribute))
    val cond = And(EqualTo(cellL, cellR),
      And(EqualTo(minCommon, cellL), pred))
    val cellBranch = Project(j.output, Join(lExp, rExp, Inner, Some(cond), hint))
    // oversized rows: bigL joins everything on the right; fitting left rows
    // still need the oversized right rows
    val bigL = naiveBranch(j.output, lBig, j.right, pred, hint)
    val bigR = naiveBranch(j.output, lFit, rBig, pred, hint)
    Union(Seq(cellBranch, bigL, bigR))
  }

  /** `j` as the cell join at zoom `z` (output left ++ right), when its
    * condition is exactly one bare st_intersects, one geometry a side. */
  def lowerGeom(j: Join, z: Int): Option[LogicalPlan] = j match {
    case Join(left, right, Inner | Cross, Some(pred @ StIntersects(a, b)), hint)
        if a.references.nonEmpty && b.references.nonEmpty =>
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some(rewriteGeom(j, pred, a, b, hint, z))
      else if (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        Some(rewriteGeom(j, pred, b, a, hint, z))
      else None
    case _ => None
  }
}
