package graft.plans

import graft.functions.{IntervalBucket, IntervalReportBucket}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}
import SpatialJoinRule.broadcastHinted

/**
 * Logical rewrite for SQL interval-overlap range joins — the temporal twin
 * of [[SpatialJoinRule]] (the bin-based range-join optimization
 * production engines expose for exactly this θ-shape). [[rewriteWith]]
 * is the one builder of graft's interval bucket join and [[autoBucket]]
 * its one auto sizer: [[graft.operators.TemporalJoin.overlaps]] runs
 * both on its plain overlap join. A pure-SQL
 *
 * {{{ SELECT ... FROM l JOIN r ON l.s <= r.e AND r.s <= l.e }}}
 *
 * plans as a nested-loop (O(|l|·|r|)); with
 * `spark.graft.join.timeBucket = B` (> 0 enables the rule; the bucket is
 * workload knowledge — choose it near the typical interval length, the
 * same contract the operator API documents) the join becomes
 *
 * {{{
 *   Project(original output,
 *     Join(Generate(explode(sequence(bucket(least(ls,le)), bucket(greatest(ls,le)))), l),
 *          Generate(explode(sequence(bucket(least(rs,re)), bucket(greatest(rs,re)))), r),
 *          Inner, __tb_l = __tb_r AND <original inequalities> AND
 *                 st_t_ref_bucket(ls, rs, B, __tb_l) AND <rest>))
 * }}}
 *
 * — a hash-joinable equality on the bucket id, the exact inequalities as
 * the refine, and the max-start report rule (a pair is emitted only from
 * the bucket holding max(ls, rs), the first instant the intervals
 * coexist) so each overlapping pair appears EXACTLY once with no distinct
 * shuffle. Replication is least→greatest per row (well-defined even for
 * inverted intervals, which the original θ-condition admits), covering:
 * for any satisfying pair, max(ls, rs) lies inside both span hulls, so
 * its bucket is generated on both sides. Strict (<) and non-strict (<=)
 * inequalities both rewrite — the originals are carried verbatim, so the
 * refine preserves their exact semantics.
 *
 * Point-in-interval (`p BETWEEN s AND e`) is the degenerate instance —
 * the pair resolves with ls = le = p, so the point side explodes exactly
 * ONE bucket per row (spec-pinned). The rule only fires on integral
 * (int/long) bounds whose conjunct pair resolves to opposite join sides,
 * skips broadcast-hinted joins (the user asked for the nested-loop
 * plan), and is idempotent — the st_t_ref_bucket conjunct is produced
 * only by this rewrite (structural marker, the [[SpatialJoinRule]]
 * convention).
 *
 * AMBIGUITY GUARD (load-bearing — found by a real OOM): the condition
 * may carry OTHER crossing integral inequalities (the classic
 * `id_a < id_b` pair-dedup filter, pushed into the join condition by
 * the optimizer), and the overlap decomposition cannot statically tell
 * bounds from ids — a mis-pick explodes sequence() over an id-to-epoch
 * span (measured: ~14M buckets PER ROW, an executor OOM). When more
 * than one candidate pair matches, the rule conservatively DECLINES
 * (logged): restate auxiliary filters in non-inequality form
 * (`least(id_a, id_b) = id_a AND id_a <> id_b`), pre-filter a side, or
 * — the r13 off-ramp — name the bound columns in
 * `spark.graft.join.timeCols` (comma-separated, case-insensitive): a
 * candidate pair then qualifies only if EVERY one of its four bound
 * expressions references a named column, which (a) disambiguates the
 * pushed-id case (the id pair references no time column — the rewrite
 * fires on the real bounds), and (b) protects OTHER single-pair joins
 * in the same session (a price/score band join references no time
 * column — not rewritten, its own sequence() explosion never built).
 *
 * RUNTIME SPAN CAP (defense in depth): whatever static analysis
 * concludes, the generated per-row bucket range is bounded by
 * `spark.graft.join.timeBucketMaxSpan` (default 4096 buckets/row) — a
 * row whose span/bucket ratio exceeds the cap raises a loud, actionable
 * error instead of letting sequence() allocate toward the same class of
 * executor OOM. It holds for the operator API too, whose contract is
 * bucket ≈ typical interval length ⇒ O(1) replication; the cap only
 * converts the silent failure mode of a mis-configured bucket into a
 * message.
 */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** A malformed conf value must disable the rule with a warning, not
    * throw NumberFormatException inside the optimizer (which would fail
    * EVERY query in the session with an opaque error). `-1` = AUTO: the
    * bucket is derived per join from a bounded sample of both sides'
    * interval lengths (see [[resolveAutoBucket]]); other negatives are
    * treated as malformed. */
  private def bucket: Long = {
    val raw = conf.getConfString("spark.graft.join.timeBucket", "0")
    raw.toLongOption.filter(v => v >= -1).getOrElse {
      logWarning(s"RangeJoinRule: unparsable spark.graft.join.timeBucket " +
        s"'$raw' — treating as 0 (rewrite disabled)")
      0L
    }
  }

  /** Rows sampled per side for auto-bucket sizing: enough for a stable
    * median, bounded regardless of input size. */
  private val AutoSampleRows = 1001

  /** Bounded deterministic sample of per-row span = greatest − least of
    * the two bound expressions (well-defined for inverted intervals,
    * like the rewrite's own replication). Null-bounded rows are skipped
    * (they satisfy no inequality and generate nothing). */
  private def sampleSpans(spark: SparkSession, child: LogicalPlan, lo: Expression,
                          hi: Expression): Option[Array[Long]] = {
    val span = Subtract(Greatest(Seq(asLong(lo), asLong(hi))),
      Least(Seq(asLong(lo), asLong(hi))))
    Probe.sample(spark, child, Seq(Alias(span, "__rj_span")()), AutoSampleRows)
      .map(_.filter(!_.isNullAt(0)).map(_.getLong(0)))
  }

  /** The auto-bucket sizer, for the rule's `timeBucket = -1` and for
    * [[graft.operators.TemporalJoin]]'s `bucket = -1` (the `autoPlanes`
    * precedent, graft.operators.Dedup): bucket = the next power of two
    * at or above max(median sampled span of either side, max sampled
    * span / cap) — the median keeps replication O(1) for the typical row
    * (the operator API's hand-tuning contract, derived instead of known),
    * and the max/cap floor guarantees no SAMPLED row could trip the
    * runtime span cap. Declines (None) when a side cannot be sampled
    * (see [[Probe.sample]]) or, logged, when either side's sample is
    * empty — a degenerate input where no bucket is evidently right; the
    * join then runs its original plan. Sampling cost: one
    * ≤[[AutoSampleRows]]-row job per side not yet sampled. Bucket choice
    * affects REPLICATION only — the exact refine makes any positive
    * bucket correct — so a sampling artifact can cost speed, never rows. */
  private[graft] def autoBucket(spark: SparkSession, j: Join,
                                ls: Expression, le: Expression,
                                rs: Expression, re: Expression): Option[Long] = {
    val (lSpans, rSpans) = (for {
      l <- sampleSpans(spark, j.left, ls, le)
      r <- sampleSpans(spark, j.right, rs, re)
    } yield (l, r)).getOrElse(return None)
    if (lSpans.isEmpty || rSpans.isEmpty) {
      logWarning("RangeJoinRule: auto bucket declined — a join side " +
        "sampled no non-null bound rows; running the original plan")
      return None
    }
    def median(a: Array[Long]): Long = { val s = a.sorted; s(s.length / 2) }
    val med = math.max(math.max(median(lSpans), median(rSpans)), 1L)
    val maxSampled = math.max(lSpans.max, rSpans.max)
    val target = math.max(med, maxSampled / maxSpan + 1)
    val bkt =
      if (target <= 1L) 1L
      else java.lang.Long.highestOneBit(target - 1) << 1
    logInfo(s"RangeJoinRule: auto bucket $bkt (median span $med, max " +
      s"sampled span $maxSampled over ${lSpans.length}+${rSpans.length} rows)")
    Some(bkt)
  }

  /** Catalyst stat values for integral columns arrive as boxed Int/Long. */
  private def statLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  /** Plan-time span decline: column min/max stats (CBO / ANALYZE) can
    * PROVE every row of a side spans more than the cap allows —
    * span ≥ min(hi) − max(lo) for every row, so if that bound already
    * exceeds cap·bucket, the first generated row would raise the
    * runtime span-cap error. Declining here instead lets the (likely
    * mis-bucketed non-temporal) join run its original nested-loop plan
    * and ANSWER. Stats-less plans keep the runtime cap as backstop —
    * this check costs zero jobs and only fires on provable violations. */
  private def statsProveWide(side: LogicalPlan, lo: Expression,
                             hi: Expression, b: Long, cap: Long): Boolean =
    (lo, hi) match {
      case (la: Attribute, ha: Attribute) =>
        val st = side.stats.attributeStats
        (for {
          lst <- st.get(la); hst <- st.get(ha)
          lmaxRaw <- lst.max; hminRaw <- hst.min
          lmax <- statLong(lmaxRaw); hmin <- statLong(hminRaw)
        } yield BigInt(hmin) - BigInt(lmax) > BigInt(cap) * BigInt(b))
          .getOrElse(false)
      case _ => false
    }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** Bound-column hints: lowercased names from spark.graft.join.timeCols. */
  private def timeCols: Set[String] =
    conf.getConfString("spark.graft.join.timeCols", "")
      .split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

  private def maxSpan: Long = {
    val raw = conf.getConfString("spark.graft.join.timeBucketMaxSpan", "4096")
    raw.toLongOption.filter(_ > 0).getOrElse {
      logWarning(s"RangeJoinRule: unparsable spark.graft.join.timeBucketMaxSpan " +
        s"'$raw' — using 4096")
      4096L
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val b = bucket
    if (b == 0 || b < -1) plan
    else SparkSession.getActiveSession.fold(plan) { spark => plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) if !broadcastHinted(hint) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val alreadyRewritten = conjuncts.exists {
          case _: IntervalReportBucket => true
          case _ => false
        }
        // normalize every inequality conjunct to (lo <=/< hi, index)
        val ineqs = conjuncts.zipWithIndex.flatMap {
          case (LessThanOrEqual(a, c), i) => Seq((a, c, i))
          case (LessThan(a, c), i) => Seq((a, c, i))
          case (GreaterThanOrEqual(a, c), i) => Seq((c, a, i))
          case (GreaterThan(a, c), i) => Seq((c, a, i))
          case _ => Nil
        }.filter { case (a, c, _) =>
          integral(a) && integral(c) && a.deterministic && c.deterministic &&
            a.references.nonEmpty && c.references.nonEmpty
        }
        // the overlap shape: one conjunct bounds a LEFT expr by a RIGHT
        // expr, the other a RIGHT expr by a LEFT expr
        val candidates = for {
          (ls, re, i) <- ineqs
          (rs, le, k) <- ineqs if k != i
          if ls.references.subsetOf(left.outputSet) &&
            re.references.subsetOf(right.outputSet) &&
            rs.references.subsetOf(right.outputSet) &&
            le.references.subsetOf(left.outputSet)
        } yield (ls, le, rs, re)
        // timeCols hint: keep only candidates whose four bound exprs all
        // touch a named column — disambiguates pushed auxiliary
        // inequalities AND protects non-temporal joins in the session
        val hinted = timeCols
        def temporal(c: (Expression, Expression, Expression, Expression)) =
          Seq(c._1, c._2, c._3, c._4).forall(
            _.references.exists(a => hinted.contains(a.name.toLowerCase)))
        val eligible =
          if (hinted.isEmpty) candidates else candidates.filter(temporal)
        if (eligible.size > 1 && !alreadyRewritten) {
          logWarning("RangeJoinRule: join condition admits " +
            s"${eligible.size} interval decompositions — declining the " +
            "rewrite (restate auxiliary inequality filters, e.g. " +
            "least(a,b) = a AND a <> b instead of a < b, or name the " +
            "bound columns in spark.graft.join.timeCols)")
        }
        if (eligible.size != 1 || alreadyRewritten) j
        else {
          val (ls, le, rs, re) = eligible.head
          lazy val cap = maxSpan
          val bRes: Option[Long] =
            if (b == -1L) autoBucket(spark, j, ls, le, rs, re)
            else if (statsProveWide(left, ls, le, b, cap) ||
                     statsProveWide(right, rs, re, b, cap)) {
              logWarning("RangeJoinRule: column stats prove every row " +
                s"spans more than $cap buckets at bucket=$b — declining " +
                "the rewrite (the original join plan runs; raise " +
                "spark.graft.join.timeBucket, or timeBucketMaxSpan, or " +
                "use timeBucket=-1 to auto-size)")
              None
            } else Some(b)
          bRes.fold(j: LogicalPlan)(rewriteWith(spark, j, ls, le, rs, re, _))
        }
    }}
  }

  /** The bucket join for `j` with bounds `ls`/`le` over its left side and
    * `rs`/`re` over its right, at bucket `b`: the only builder of graft's
    * interval bucket join. [[apply]] calls it with the conf or auto
    * bucket; [[graft.operators.TemporalJoin.overlaps]] with its own, on
    * its plain overlap join. `spark` plans the spread probes of the two
    * sides. */
  private[graft] def rewriteWith(spark: SparkSession, j: Join,
                                 ls: Expression, le: Expression, rs: Expression,
                                 re: Expression, b: Long): LogicalPlan = {
    val cap = maxSpan
    val bLit = Literal(b)
    val tz = Some(conf.sessionLocalTimeZone)
    // runtime span cap: a row exploding more than `cap` buckets
    // raises an actionable error instead of allocating toward an
    // executor OOM (the r12 failure class)
    def buckets(lo: Expression, hi: Expression): Generator = {
      val bLo = IntervalBucket(Least(Seq(asLong(lo), asLong(hi))), bLit)
      val bHi = IntervalBucket(Greatest(Seq(asLong(lo), asLong(hi))), bLit)
      val bHiCapped = If(
        GreaterThan(Subtract(bHi, bLo), Literal(cap)),
        Cast(RaiseError(Literal(
          s"RangeJoinRule: a row spans more than $cap time buckets at " +
          s"bucket=$b (spark.graft.join.timeBucket) — raise the bucket, " +
          "pre-filter outlier intervals, or raise " +
          "spark.graft.join.timeBucketMaxSpan")), LongType),
        bHi)
      Explode(Sequence(bLo, bHiCapped, None, tz))
    }
    val genL = Probe.explodeSpread(spark, j.left, buckets(ls, le), "__tb_l")
    val genR = Probe.explodeSpread(spark, j.right, buckets(rs, re), "__tb_r")
    val (cellL, cellR) = (genL.generatorOutput.head, genR.generatorOutput.head)
    val newCond = (EqualTo(cellL, cellR) +:
      IntervalReportBucket(asLong(ls), asLong(rs), bLit, cellL) +:
      splitConjunctivePredicates(j.condition.get)).reduce(And)
    Project(j.output, Join(genL, genR, Inner, Some(newCond), j.hint))
  }
}
