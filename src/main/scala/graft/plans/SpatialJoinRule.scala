package graft.plans

import graft.functions.{GeoOps, STCells, STRefCell, STRelate, STWithinDistance}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/**
 * Logical rewrite for SQL spatial joins — the Spark-native counterpart of
 * the reference's planner strategy (reference
 * src/main/scala/dbis/stark/sql/StarkStrategy.scala:47-81, which pattern-
 * matches `Join(Inner, st_pred)` and swaps in its own exec node).
 *
 * We stay declarative instead: `Join(l, r, Inner, st_pred(a, b))` becomes
 *
 * {{{
 *   Project(original output,
 *     Join(Generate(explode(st_cells(a)), l), Generate(explode(st_cells(b)), r),
 *          Inner, __gcell_l = __gcell_r AND st_pred(a, b) AND st_ref_cell(...)))
 * }}}
 *
 * The added equality conjunct lets Spark's own join selection plan a
 * broadcast/shuffled HASH join on the cell key (AQE handles skewed cells);
 * the exact predicate refines and the reference-point conjunct removes
 * cross-cell duplicates without any distinct. The rule only fires on a
 * bare `st_*` join condition whose argument sides resolve unambiguously,
 * so it is idempotent (the rewritten condition is a conjunction).
 *
 * Cell size comes from `spark.graft.join.cellSize` (default 100 units).
 */
object SpatialJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def cellSize: Double =
    conf.getConfString("spark.graft.join.cellSize", "100.0").toDouble

  /** A user (or [[graft.operators.SpatialJoin.broadcastJoin]]) broadcast
    * hint means a nested-loop broadcast plan is both viable and requested —
    * the cell rewrite would add two explodes for nothing and, for huge
    * envelopes, hit st_cells' cell-count bound that BNLJ doesn't have. It
    * also keeps broadcastJoin an INDEPENDENT differential oracle for the
    * cell join rather than a second copy of it. */
  private[plans] def broadcastHinted(hint: JoinHint): Boolean =
    (hint.leftHint ++ hint.rightHint).exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) if !broadcastHinted(hint) =>
      // the spatial predicate may be one conjunct among several — extract
      // it, rewrite, and carry the remaining conjuncts along unchanged
      val conjuncts = splitConjunctivePredicates(cond)
      // bind the first rewritable spatial conjunct with its resolved sides;
      // within-distance joins rewrite too (radius-expanded left cells, the
      // SpatialJoin.distanceJoin recipe) when the distance folds to a
      // constant — a per-row distance can't pick a cell radius up front
      val found = conjuncts.zipWithIndex.collectFirst(Function.unlift {
        case (p: STRelate, i) if p.deterministic &&
            p.left.references.nonEmpty && p.right.references.nonEmpty =>
          sidesResolved(p.left, p.right, left, right).map {
            case (le, re) => (p: Expression, i, le, re, 0.0) }
        case (p: STWithinDistance, i) if p.deterministic && p.third.foldable &&
            p.first.references.nonEmpty && p.second.references.nonEmpty =>
          val d = p.third.eval()
          if (d == null || d.asInstanceOf[Double] < 0) None
          else sidesResolved(p.first, p.second, left, right).map {
            // within-distance is symmetric, so a side swap leaves the
            // predicate untouched; the radius expansion follows `le`
            case (le, re) => (p: Expression, i, le, re, d.asInstanceOf[Double]) }
        case _ => None
      })
      // an st_ref_cell conjunct means this join is already rewritten — the
      // rule is the only producer of that predicate inside a join condition.
      // (Structural, not name-based: a user column that happens to be called
      // `__gcell_l` must not suppress the rewrite.)
      val alreadyRewritten = conjuncts.exists {
        case _: STRefCell => true
        case _ => false
      }
      if (found.isEmpty || alreadyRewritten) j
      else {
        val (pred, spatialIdx, le, re, radius) = found.get
        val rest = conjuncts.patch(spatialIdx, Nil, 1)
        // a radius larger than the cell floors the cell size so the expanded
        // envelope replicates onto a bounded ring (same floor the operator
        // API applies)
        val cs = Literal(math.max(cellSize, radius))
        val rad = Literal(radius)
        val zero = Literal(0.0)

        val cellL = AttributeReference("__gcell_l", LongType, nullable = false)()
        val cellR = AttributeReference("__gcell_r", LongType, nullable = false)()
        val genL = Generate(Explode(STCells(le, cs, rad)), Nil, outer = false,
          qualifier = None, generatorOutput = Seq(cellL), child = Probe.spread(left))
        val genR = Generate(Explode(STCells(re, cs, zero)), Nil, outer = false,
          qualifier = None, generatorOutput = Seq(cellR), child = Probe.spread(right))

        val newCond = (EqualTo(cellL, cellR) +: pred +:
          STRefCell(Seq(le, re, cs, cellL, rad)) +: rest).reduce(And)
        Project(j.output, Join(genL, genR, Inner, Some(newCond), hint))
      }
  }

  /** The predicate's two arguments must reference opposite join sides
    * (either order — reference StarkStrategy.scala:33-45 does the same
    * resolution dance). Returns (left-side expr, right-side expr). */
  private def sidesResolved(a: Expression, b: Expression,
                            left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression)] = {
    if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
      Some((a, b))
    else if (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      Some((b, a)) // st_cells/ref_cell are orientation-agnostic; pred unchanged
    else None
  }
}
