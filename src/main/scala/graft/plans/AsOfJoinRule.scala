package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Last, MaxBy}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Logical rewrite for SQL as-of joins — the third member of the rewrite
 * family ([[SpatialJoinRule]], [[RangeJoinRule]]), completing the SQL
 * surface of [[graft.operators.TemporalJoin.asOfKeyed]] (the reference's
 * SQL layer plans typed kernels from declarative shapes the same way —
 * reference src/main/scala/dbis/stark/sql/StarkStrategy.scala:47-81).
 *
 * The as-of join has two standard declarative spellings (DuckDB spells
 * both with one `ASOF JOIN` clause), and this rule matches BOTH:
 *
 * 1. rank-and-keep-one:
 * {{{
 *   SELECT ... FROM (
 *     SELECT l.*, r.*, row_number() OVER (
 *       PARTITION BY l.id ORDER BY r.t DESC [, r.tb DESC]) AS rn
 *     FROM l [LEFT] JOIN r
 *       ON r.k = l.k AND r.t <= l.t [AND r.t > l.t - lookback]
 *   ) WHERE rn = 1
 * }}}
 *
 * 2. max_by aggregation:
 * {{{
 *   SELECT l.id, max_by(r.v, (r.t [, r.tb])) FROM l [LEFT] JOIN r
 *     ON r.k = l.k AND r.t <= l.t [AND r.t > l.t - lookback]
 *   GROUP BY l.id
 * }}}
 *
 * Spark plans the join in both as a per-key pair EXPLOSION (every right
 * row at-or-before every left row of the same key meets the join output
 * before the window/aggregate discards all but one per left row) —
 * candidate count grows as per-key density², the exact pathology the
 * carry-forward operator kernel was rewritten to avoid (measured
 * 0.64 s → 131 s at 10× density on q43). Under
 * `spark.graft.join.asof = true` this rule replaces the whole subtree
 * with the carry-forward timeline:
 *
 * {{{
 *   Project(original output,
 *     Filter(g = 1 [AND w IS NOT NULL AND w.t > lookback bounds],
 *       Window(last(if(g = 0, struct(t, r-struct), null), ignoreNulls)
 *                OVER (PARTITION BY join keys
 *                      ORDER BY t, g [, tie keys reversed]
 *                      ROWS UNBOUNDED PRECEDING..CURRENT) AS w,
 *         Union(left rows as g=1, right rows as g=0))))
 * }}}
 *
 * — one union, one hash-partition-by-key window pass, zero join: each
 * left row reads the single latest preceding right row of its key
 * directly, O(n log n) at ANY per-key density. At equal instants rights
 * sort before lefts for `r.t <= l.t` and after them for the strict
 * `r.t < l.t`, so bound inclusivity is exact; descending tie keys rank
 * the user's rank-1 right LAST in timeline order, where `last()` picks
 * it (a max_by struct ordering is the same thing: lexicographic max =
 * all keys descending). Lookback conjuncts (any lower bound
 * `r.t >/≥ f(left)`) post-filter the CARRIED time exactly: every lower
 * bound is monotone in r.t, so if the latest right fails it, every
 * earlier right fails it too, and the user's query emits nothing (or a
 * NULL, in the outer/aggregate forms) for that left row either way.
 *
 * LEFT OUTER joins rewrite to the same plan with the drop-filter turned
 * into a null-out (`ASOF LEFT JOIN`): every left row — including
 * NULL-keyed/timed ones, which SQL equality can never match — survives
 * with NULL right columns. In the max_by form the aggregate itself is
 * already null-on-empty, so inner-vs-outer only changes which GROUPS
 * exist (matched lefts vs all lefts).
 *
 * Exactness contracts (why the rewrite is opt-in): the window PARTITION
 * BY (or GROUP BY) must functionally identify a left row — it is the row
 * id in every real as-of query, and with duplicate ids the user's own
 * query already returns an arbitrary survivor (rank form) or merges
 * match sets (aggregate form), semantics no single-pass rewrite can
 * preserve. Ties beyond the given ordering keys are arbitrary on both
 * sides (the operator API's (t, tieBreak)-uniqueness contract).
 *
 * Declines (plan left untouched; Spark's own InferWindowGroupLimit etc.
 * still apply): join types other than Inner/LeftOuter, partition/group
 * keys referencing the right side, order keys with non-default null
 * ordering, any join conjunct that is not a cross-side equality / the
 * single upper bound on one right expression / a lower bound on that
 * same expression, extra window expressions in the same Window node,
 * aggregates other than max_by (or max_by's with differing orderings),
 * and unkeyed shapes: with no key equality the carry window would be a
 * single-partition sort — still better than the quadratic explosion,
 * but the typed [[graft.operators.TemporalJoin.asOf]] (range-partitioned
 * timeline, driver-healed boundaries) is the unkeyed scale path.
 */
object AsOfJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Hot-key skew gate (SCALE.md documents the funnel honestly): the
    * rewritten window hash-partitions by the join key, so a key holding
    * most of the data serializes into ONE task — the typed
    * [[graft.operators.TemporalJoin.asOfKeyed]] (range-partitioned
    * timeline) is the skew-proof path. Before rewriting, both join
    * children are probed with a bounded deterministic sample; if a single
    * key tuple holds more than `spark.graft.join.asofMaxKeyShare`
    * (default 0.9) of a large-enough combined sample, the rewrite
    * DECLINES with a pointer to the typed kernel — Spark's own
    * join+window plan runs (which at that skew is also poor, but is
    * what the user wrote). `>= 1` disables the gate; the probe costs
    * one ≤2048-row job per side not yet sampled (a limit over a scan
    * reads one partition at any input size; see [[Probe.sample]]).
    * Best-effort by design: a skipped or failed probe just keeps the
    * rewrite, never changes results. */
  private val HotKeySampleRows = 2048
  private val HotKeyMinSample = 512

  private def maxKeyShare: Double = {
    val raw = conf.getConfString("spark.graft.join.asofMaxKeyShare", "0.9")
    raw.toDoubleOption.filter(_ > 0).getOrElse {
      logWarning(s"AsOfJoinRule: unparsable spark.graft.join.asofMaxKeyShare " +
        s"'$raw' — using 0.9")
      0.9
    }
  }

  private def hotKeyDeclines(s: Shape): Boolean = {
    val share = maxKeyShare
    if (share >= 1.0) return false
    def sampleKeys(child: LogicalPlan, keys: Seq[Expression]): Option[Seq[Seq[Any]]] =
      SparkSession.getActiveSession.flatMap(Probe.sample(_, child,
          keys.zipWithIndex.map { case (k, i) => Alias(k, s"__ak_$i")() },
          HotKeySampleRows))
        .map(_.map(r => keys.indices.map(i => r.get(i, keys(i).dataType)).toSeq).toSeq)
    val all = (for {
      l <- sampleKeys(s.j.left, s.keys.map(_._1))
      r <- sampleKeys(s.j.right, s.keys.map(_._2))
    } yield l ++ r).getOrElse(return false)
    if (all.size < HotKeyMinSample) return false
    val top = all.groupBy(identity).valuesIterator.map(_.size).max
    val frac = top.toDouble / all.size
    if (frac > share) {
      logWarning(f"AsOfJoinRule: declining the rewrite — one join key " +
        f"holds $frac%.2f of a ${all.size}-row sample (threshold " +
        f"$share%.2f, spark.graft.join.asofMaxKeyShare): the rewritten " +
        "window would funnel that key into one task. Use the typed " +
        "graft.operators.TemporalJoin.asOfKeyed (range-partitioned, " +
        "skew-proof) or raise the threshold to force the rewrite.")
      true
    } else false
  }

  /** BLAST RADIUS of the session-wide flag: while set, EVERY query in the
    * session whose plan matches either spelling is rewritten — including
    * ones whose partition/group keys do NOT functionally identify a left
    * row, where the rewrite returns more rows than the unrewritten plan
    * (the scaladoc's exactness contract). Scope the flag to the query
    * (`SparkEntry.withConf` pattern: set, force the plan, restore in
    * finally) rather than setting it globally; every rewrite logs a
    * warning naming the precondition so a surprised user can trace it. */
  private def enabled: Boolean =
    conf.getConfString("spark.graft.join.asof", "false").equalsIgnoreCase("true")

  /** rank-1 filters: rn = 1, 1 = rn, rn <= 1, rn < 2 (row_number >= 1
    * always, so these are equivalent). */
  private def isRankOne(e: Expression, rn: ExprId): Boolean = e match {
    case EqualTo(a: AttributeReference, IntegerLiteral(1)) => a.exprId == rn
    case EqualTo(IntegerLiteral(1), a: AttributeReference) => a.exprId == rn
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(1)) => a.exprId == rn
    case LessThan(a: AttributeReference, IntegerLiteral(2)) => a.exprId == rn
    case GreaterThanOrEqual(IntegerLiteral(1), a: AttributeReference) => a.exprId == rn
    case GreaterThan(IntegerLiteral(2), a: AttributeReference) => a.exprId == rn
    case _ => false
  }

  private def rankFrame(f: Expression): Boolean = f match {
    case WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame,
      UnboundedPreceding, CurrentRow)) => true
    case WindowSpecDefinition(_, _, UnspecifiedFrame) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) plan
    else plan.transformUp {
      // form 1: rank-and-keep-one
      case f @ Filter(fc,
          w @ Window(Seq(al @ Alias(WindowExpression(_: RowNumber, wsd), _)),
            ps, os, wchild, _)) if rankFrame(wsd) =>
        val fConj = splitConjunctivePredicates(fc)
        val (rankConj, residual) = fConj.partition(isRankOne(_, al.exprId))
        if (rankConj.isEmpty || residual.exists(_.references.contains(al.toAttribute))) f
        else rewriteRank(w, al, ps, os, wchild) match {
          case Some(r) =>
            if (residual.isEmpty) r else Filter(residual.reduce(And), r)
          case None => f
        }
      // form 2: max_by aggregation
      case a @ Aggregate(groupExprs, aggExprs, achild, None) =>
        rewriteMaxBy(a, groupExprs, aggExprs, achild).getOrElse(a)
    }
  }

  // ---------------------------------------------------------------------
  // shared machinery
  // ---------------------------------------------------------------------

  /** The decomposed as-of join below a Window/Aggregate: sides, keys, the
    * single time bound (rt ≤/< lt), and the lower bounds on rt. */
  private case class Shape(j: Join, visible: Seq[Attribute], outer: Boolean,
                           keys: Seq[(Expression, Expression)],
                           lt: Expression, rt: Expression, strict: Boolean,
                           lowers: Seq[(Expression, Boolean)])

  /** The child below the rank filter / aggregate: a bare Inner/LeftOuter
    * Join, or the attributes-only Project that ColumnPruning inserts over
    * it (the pruned output becomes the packed width — a win, not an
    * obstacle). When this rule runs from
    * `spark.experimental.extraOptimizations` (the stf.register path) it
    * executes AFTER Spark's own InferWindowGroupLimit batch, which has
    * already inserted a WindowGroupLimit below the Window for the very
    * rank-1 filter we match — a per-partition pre-filter the full rewrite
    * subsumes, so it unwraps transparently. (From injectOptimizerRule the
    * rule runs inside operator optimization, before that batch — both
    * positions see through this.) */
  private def joinBelow(p: LogicalPlan): Option[(Join, Seq[Attribute])] = {
    val inner = p match {
      case WindowGroupLimit(_, _, _, _, c) => c
      case other => other
    }
    inner match {
      case j @ Join(_, _, Inner | LeftOuter, Some(_), _) => Some((j, j.output))
      case Project(pl, j @ Join(_, _, Inner | LeftOuter, Some(_), _))
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        Some((j, pl.map(_.asInstanceOf[AttributeReference])))
      case _ => None
    }
  }

  /** Decompose the join condition into cross-side equalities, exactly one
    * upper bound on a right expression, and lower bounds on that same
    * expression. Anything else: None. */
  private def decompose(wchild: LogicalPlan): Option[Shape] = {
    val (j, visible) = joinBelow(wchild).getOrElse(return None)
    val cond = j.condition.get
    if (!cond.deterministic) return None
    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    val keys = scala.collection.mutable.ArrayBuffer.empty[(Expression, Expression)]
    val uppers = scala.collection.mutable.ArrayBuffer.empty[(Expression, Expression, Boolean)]
    val lowersB = scala.collection.mutable.ArrayBuffer.empty[(Expression, Expression, Boolean)]
    splitConjunctivePredicates(cond).foreach { c =>
      // normalize every inequality to (lo </<= hi, strict)
      val norm = c match {
        case LessThanOrEqual(a, b) => Some((a, b, false))
        case LessThan(a, b) => Some((a, b, true))
        case GreaterThanOrEqual(a, b) => Some((b, a, false))
        case GreaterThan(a, b) => Some((b, a, true))
        case _ => None
      }
      c match {
        case EqualTo(a, b) if a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(leftOut) && b.references.subsetOf(rightOut) =>
          keys += ((a, b))
        case EqualTo(a, b) if a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(rightOut) && b.references.subsetOf(leftOut) =>
          keys += ((b, a))
        case _ => norm match {
          case Some((lo, hi, s)) if lo.references.nonEmpty && hi.references.nonEmpty &&
              lo.references.subsetOf(rightOut) && hi.references.subsetOf(leftOut) =>
            uppers += ((lo, hi, s)) // r-expr bounded above by l-expr
          case Some((lo, hi, s)) if lo.references.nonEmpty && hi.references.nonEmpty &&
              lo.references.subsetOf(leftOut) && hi.references.subsetOf(rightOut) =>
            lowersB += ((lo, hi, s)) // r-expr bounded below by l-expr
          case _ => return None // anything else: not the as-of shape
        }
      }
    }
    if (keys.isEmpty) return None // unkeyed: typed asOf is the scale path
    if (uppers.size != 1) return None
    val (rt, lt, strict) = uppers.head
    // every lower bound is on that same ranked expression (the monotone
    // post-filter argument)
    if (!lowersB.forall(_._2.semanticEquals(rt))) return None
    if (lt.dataType != rt.dataType || !RowOrdering.isOrderable(rt.dataType)) return None
    if (keys.exists { case (a, b) => a.dataType != b.dataType ||
        !RowOrdering.isOrderable(a.dataType) }) return None
    Some(Shape(j, visible, j.joinType == LeftOuter, keys.toSeq, lt, rt, strict,
      lowersB.toSeq.map { case (e, _, s) => (e, s) }))
  }

  /** The built carry-forward timeline: `filtered` holds the g=1 rows
    * (inner: only those whose carry is a real match), `wR` is the carried
    * right-struct, `bestOk` the match predicate, `rIdx` the right-attr →
    * struct-ordinal map. */
  private case class Timeline(filtered: LogicalPlan, wR: Expression,
                              bestOk: Expression, rIdx: Map[ExprId, Int])

  private def buildTimeline(s: Shape,
                            ties: Seq[(Expression, SortDirection)]): Timeline = {
    val leftOut = s.j.left.outputSet
    val rightOut = s.j.right.outputSet
    val visL = s.visible.filter(leftOut.contains)
    val visR = s.visible.filter(rightOut.contains)
    // left attrs the post-filters need beyond the visible ones
    val lCarry = (visL ++ s.lowers.flatMap(_._1.references)
      .filter(leftOut.contains)).distinct
    def nn(es: Seq[Expression]): Expression =
      es.map(IsNotNull(_): Expression).reduce(And)
    // LEFT OUTER keeps every left row — including NULL-keyed/timed ones,
    // which ride the timeline unmatched (rights are still null-filtered,
    // so a NULL-key window partition holds no rights to carry)
    val leftF = if (s.outer) s.j.left
      else Filter(nn(s.lt +: s.keys.map(_._1)), s.j.left)
    val rightF = Filter(nn(s.rt +: s.keys.map(_._2)), s.j.right)

    val rvStruct = CreateNamedStruct(
      visR.flatMap(a => Seq(Literal(a.name), a)).toSeq)
    val rvType = StructType(visR.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    def na(name: String, dt: org.apache.spark.sql.types.DataType): NamedExpression =
      Alias(Literal.create(null, dt), name)()
    // union layout: [lCarry..., __ao_t, __ao_g, __ao_tb_i..., __ao_k_i..., __ao_r]
    val lProj: Seq[NamedExpression] =
      (lCarry: Seq[NamedExpression]) ++
        Seq(Alias(s.lt, "__ao_t")(), Alias(Literal(1), "__ao_g")()) ++
        ties.zipWithIndex.map { case ((e, _), i) => na(s"__ao_tb_$i", e.dataType) } ++
        s.keys.zipWithIndex.map { case ((lk, _), i) => Alias(lk, s"__ao_k_$i")() } ++
        Seq(na("__ao_r", rvType))
    val rProj: Seq[NamedExpression] =
      lCarry.map(a => na(a.name, a.dataType)) ++
        Seq(Alias(s.rt, "__ao_t")(), Alias(Literal(0), "__ao_g")()) ++
        ties.zipWithIndex.map { case ((e, _), i) => Alias(e, s"__ao_tb_$i")() } ++
        s.keys.zipWithIndex.map { case ((_, rk), i) => Alias(rk, s"__ao_k_$i")() } ++
        Seq(Alias(rvStruct, "__ao_r")())
    val union = Union(Seq(Project(lProj, leftF), Project(rProj, rightF)),
      byName = false, allowMissingCol = false)
    val uOut = union.output
    val nL = lCarry.size
    val tU = uOut(nL); val gU = uOut(nL + 1)
    val tbU = uOut.slice(nL + 2, nL + 2 + ties.size)
    val kU = uOut.slice(nL + 2 + ties.size, nL + 2 + ties.size + s.keys.size)
    val rU = uOut.last

    // the null branch shares the struct branch's OWN dataType (field
    // nullability included): a hand-built StructType with nullable=false
    // fields differs from what CreateNamedStruct derives from the union
    // attributes, and though the plan is built post-analysis (so nothing
    // re-checks it today), If.checkInputDataTypes would reject the
    // mismatch if the subtree were ever re-analyzed (view
    // canonicalization, plan round-trip)
    val carryStruct = CreateNamedStruct(Seq(Literal("t"), tU, Literal("r"), rU))
    val carry = If(EqualTo(gU, Literal(0)), carryStruct,
      Literal.create(null, carryStruct.dataType))
    // at equal instants: rights before lefts for r.t <= l.t (g asc,
    // right g=0), after them for the strict r.t < l.t (g desc)
    val order: Seq[SortOrder] =
      SortOrder(tU, Ascending) +:
        SortOrder(gU, if (s.strict) Descending else Ascending) +:
        ties.zip(tbU).map { case ((_, d), a) => SortOrder(a, d) }
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
    val wAlias = Alias(WindowExpression(
      Last(carry, ignoreNulls = true).toAggregateExpression(),
      WindowSpecDefinition(kU, order, frame)), "__ao_w")()
    val win = Window(Seq(wAlias), kU, order, union, None)
    val wA = wAlias.toAttribute
    val wT = GetStructField(wA, 0, Some("t"))
    // "the carried right is a real match": non-null and inside every
    // lower bound (e references only lCarry attrs — in scope through
    // the union). Monotone in the carried time, so exact as a
    // post-condition on the single carried row.
    val bestOk: Expression =
      (IsNotNull(wA) +: s.lowers.map { case (e, str) =>
        (if (str) GreaterThan(wT, e) else GreaterThanOrEqual(wT, e)): Expression
      }).reduce(And)
    // inner: out-of-window lefts drop; LEFT OUTER: they stay, null-extended
    val filt =
      if (s.outer) Filter(EqualTo(gU, Literal(1)), win)
      else Filter(And(EqualTo(gU, Literal(1)), bestOk), win)
    Timeline(filt, GetStructField(wA, 1, Some("r")), bestOk,
      visR.map(_.exprId).zipWithIndex.toMap)
  }

  // ---------------------------------------------------------------------
  // form 1: Filter(rn = 1, Window(row_number, Join))
  // ---------------------------------------------------------------------

  private def rewriteRank(w: Window, rnAlias: Alias, ps: Seq[Expression],
                          os: Seq[SortOrder], wchild: LogicalPlan)
      : Option[LogicalPlan] = {
    val s = decompose(wchild).getOrElse(return None)
    val leftOut = s.j.left.outputSet
    val rightOut = s.j.right.outputSet
    // partition keys: left-side only, non-empty (the left row identity)
    if (ps.isEmpty || ps.exists(p => !p.deterministic ||
        p.references.isEmpty || !p.references.subsetOf(leftOut))) return None
    if (os.isEmpty) return None
    // primary order key: the bounded r.t, DESC with default null ordering
    os.head match {
      case SortOrder(e, Descending, NullsLast, _)
          if e.deterministic && e.semanticEquals(s.rt) => ()
      case _ => return None
    }
    // tie keys: right-side, default null orderings; timeline rank
    // reversal = flip the direction (last-in-reversed-order = rank 1)
    val ties = os.tail.map {
      case SortOrder(e, Descending, NullsLast, _)
          if e.deterministic && e.references.subsetOf(rightOut) =>
        (e, Ascending: SortDirection)
      case SortOrder(e, Ascending, NullsFirst, _)
          if e.deterministic && e.references.subsetOf(rightOut) =>
        (e, Descending: SortDirection)
      case _ => return None
    }
    if (hotKeyDeclines(s)) return None

    val tl = buildTimeline(s, ties)
    // original output, original exprIds: left attrs ride the union
    // bare; right attrs unpack from the carried struct (KnownNotNull
    // restores the static flag the struct detour widened — the value is
    // provably non-null: the struct is built from right rows only and
    // the bestOk filter has already run; for LEFT OUTER the join output
    // already marks right attrs nullable, and the If supplies the null)
    val outProj: Seq[NamedExpression] = w.output.map { a =>
      if (a.exprId == rnAlias.exprId)
        Alias(Literal(1), rnAlias.name)(exprId = rnAlias.exprId)
      else if (leftOut.contains(a)) a
      else {
        val i = tl.rIdx(a.exprId)
        val g = GetStructField(tl.wR, i, Some(a.name))
        val v =
          if (s.outer) If(tl.bestOk, g, Literal.create(null, a.dataType))
          else if (a.nullable) g
          else KnownNotNull(g)
        Alias(v, a.name)(exprId = a.exprId)
      }
    }
    logWarning(s"AsOfJoinRule: rewrote rank-1-over-join as-of " +
      s"(${s.keys.size} key(s), ${ties.size} tie key(s), " +
      s"${s.lowers.size} lower bound(s), strict=${s.strict}, outer=${s.outer}). " +
      "PRECONDITION: the window PARTITION BY must functionally identify a " +
      "left row — with duplicate partition keys the rewrite returns more " +
      "rows than the unrewritten plan. Unset spark.graft.join.asof to " +
      "disable for this session.")
    Some(Project(outProj, tl.filtered))
  }

  // ---------------------------------------------------------------------
  // form 2: Aggregate(left keys, max_by(value, (r.t [, ties])), Join)
  // ---------------------------------------------------------------------

  /** The ordering of a max_by: the bounded r.t alone, or a struct whose
    * FIRST field is it (lexicographic max = rank by every field DESC). */
  private def orderingParts(e: Expression): Seq[Expression] = e match {
    case CreateNamedStruct(children) =>
      children.grouped(2).map(_.apply(1)).toSeq
    case other => Seq(other)
  }

  private def rewriteMaxBy(a: Aggregate, groupExprs: Seq[Expression],
                           aggExprs: Seq[NamedExpression], achild: LogicalPlan)
      : Option[LogicalPlan] = {
    val s = decompose(achild).getOrElse(return None)
    val leftOut = s.j.left.outputSet
    val rightOut = s.j.right.outputSet
    // group keys: left-side only, non-empty (the left row identity)
    if (groupExprs.isEmpty || groupExprs.exists(g => !g.deterministic ||
        g.references.isEmpty || !g.references.subsetOf(leftOut))) return None
    // every aggregate function must be a plain max_by sharing ONE
    // ordering whose first field is the bounded r.t; non-aggregate
    // output expressions must be left-side (they are grouping-derived —
    // the analyzer enforced that already)
    var ordering: Option[Expression] = None
    aggExprs.foreach { ne =>
      val aggs = ne.collect { case ae: AggregateExpression => ae }
      if (aggs.isEmpty) {
        if (!ne.references.subsetOf(leftOut)) return None
      } else aggs.foreach {
        case AggregateExpression(MaxBy(v, ord), Complete, false, None, _)
            if v.deterministic && ord.deterministic &&
              v.references.subsetOf(s.j.outputSet) =>
          ordering match {
            case Some(o) => if (!o.semanticEquals(ord)) return None
            case None =>
              val parts = orderingParts(ord)
              if (!parts.head.semanticEquals(s.rt)) return None
              if (!parts.tail.forall(p => p.deterministic &&
                p.references.subsetOf(rightOut))) return None
              ordering = Some(ord)
          }
        case _ => return None
      }
    }
    val ord = ordering.getOrElse(return None) // no max_by: nothing to do
    // max over a struct prefers every field LARGEST — reverse each tie
    // into the timeline order like a DESC rank key
    val ties = orderingParts(ord).tail.map(e => (e, Ascending: SortDirection))
    if (hotKeyDeclines(s)) return None

    val tl = buildTimeline(s, ties)
    // substitute each max_by with its value over the carried right row;
    // right attrs inside the value become struct fields, left attrs ride
    // the union bare. max_by is null-on-empty, so both inner (groups are
    // matched lefts) and outer (every left) need only the bestOk guard.
    val outProj: Seq[NamedExpression] = aggExprs.map { ne =>
      ne.transform {
        case AggregateExpression(MaxBy(v, _), _, _, _, _) =>
          val sub = v.transform {
            case at: AttributeReference if tl.rIdx.contains(at.exprId) =>
              GetStructField(tl.wR, tl.rIdx(at.exprId), Some(at.name))
          }
          If(tl.bestOk, sub, Literal.create(null, v.dataType))
      }.asInstanceOf[NamedExpression]
    }
    logWarning(s"AsOfJoinRule: rewrote max_by-over-join as-of " +
      s"(${s.keys.size} key(s), ${ties.size} tie key(s), " +
      s"${s.lowers.size} lower bound(s), strict=${s.strict}, outer=${s.outer}). " +
      "PRECONDITION: the GROUP BY keys must functionally identify a left " +
      "row — with duplicate keys (or multiple NULL-keyed left rows in the " +
      "LEFT OUTER form, which SQL merges into one group) the rewrite " +
      "returns more rows than the unrewritten plan. Unset " +
      "spark.graft.join.asof to disable for this session.")
    Some(Project(outProj, tl.filtered))
  }
}
