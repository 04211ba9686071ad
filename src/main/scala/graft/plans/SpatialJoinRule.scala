package graft.plans

import graft.functions.{STCells, STRefCell, STRelate, STWithinDistance}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

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
 * [[rewriteJoin]] is the one builder of graft's spatial cell join: the
 * rule applies it with the cell size from `spark.graft.join.cellSize`
 * (default 100 units), and [[graft.operators.SpatialJoin]] and the
 * streaming spatial joins apply it with their own.
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession.fold(plan) { spark =>
      plan.transformUp { case j: Join => rewriteJoin(j, cellSize, spark).getOrElse(j) }
    }

  /** The cell join for `j` at `cellSize`, or None where the rule declines.
    * The only builder of graft's spatial cell join: [[apply]] calls it
    * with the conf cell size, and [[graft.operators.SpatialJoin]] and the
    * streaming spatial joins with their own, on their plain predicate
    * join. `spark` plans the spread probes of the two sides. */
  private[graft] def rewriteJoin(j: Join, cellSize: Double,
                                 spark: SparkSession): Option[LogicalPlan] = j match {
    case Join(left, right, Inner, Some(cond), hint) if !broadcastHinted(hint) =>
      // the spatial predicate may be one conjunct among several — extract
      // it, rewrite, and carry the remaining conjuncts along unchanged
      val conjuncts = splitConjunctivePredicates(cond)
      // bind the first rewritable spatial conjunct with its resolved sides;
      // within-distance joins rewrite too (radius-expanded left cells) when
      // the distance folds to a constant — a per-row distance can't pick a
      // cell radius up front
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
      if (alreadyRewritten) None
      else found.map { case (pred, spatialIdx, le, re, radius) =>
        val rest = conjuncts.patch(spatialIdx, Nil, 1)
        // floor the cell size at the radius: expanding a tiny cell grid by
        // a large radius replicates every left row onto ~(2·radius/cell)²
        // cells — a quadratic candidate blowup (and past the st_cells
        // bound, a hard failure). With cell >= radius the expansion ring
        // stays at most one cell wide in each direction.
        val cs = Literal(math.max(cellSize, radius))
        val rad = Literal(radius)
        val zero = Literal(0.0)

        val genL = Probe.explodeSpread(spark, left, Explode(STCells(le, cs, rad)), "__gcell_l")
        val genR = Probe.explodeSpread(spark, right, Explode(STCells(re, cs, zero)), "__gcell_r")
        val (cellL, cellR) = (genL.generatorOutput.head, genR.generatorOutput.head)
        val newCond = (EqualTo(cellL, cellR) +: pred +:
          STRefCell(Seq(le, re, cs, cellL, rad)) +: rest).reduce(And)
        Project(j.output, Join(genL, genR, Inner, Some(newCond), hint))
      }
    case _ => None
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
