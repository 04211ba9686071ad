package graft.plans

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Generator, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Limit, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.LongType

import scala.util.control.NonFatal

/**
 * The only code that runs plan-time work for graft: the rewrite rules'
 * bounded samples ([[RangeJoinRule]]'s auto bucket, [[AsOfJoinRule]]'s
 * hot-key gate) and the spread decision shared by the rules and
 * [[graft.operators.Dedup.spread]].
 *
 * Contract: a probe may change the plan chosen but never the answer. A
 * sample only sizes a rewrite (bucket width, whether to rewrite at all),
 * and every rewrite it can pick computes the same rows; a spread only
 * adds a round-robin repartition. So a stale, failed or skipped probe
 * costs speed, never rows.
 *
 *  - [[sample]] collects `Limit(rows, Project(exprs, child))`.
 *  - [[spreadWidth]] / [[explodeSpread]]: a child whose physical plan has no
 *    exchange and whose leaves sum to fewer partitions than
 *    `defaultParallelism` is repartitioned round-robin to that width;
 *    anything already shuffled or wide enough passes through, and so
 *    does a streaming child, which cannot be batch-planned (its
 *    micro-batch partitioning is the source's business). Every raw
 *    scan of a single-row-group file is one partition, and when a join
 *    broadcasts one side the other side's explode+join+refine fuses onto
 *    that scan's task count. Deciding plans the child physically
 *    (`sparkPlan`, pre-AQE); a leaf's `execute()` builds its RDD lazily,
 *    so no job is submitted.
 *
 * Each probe runs against the session it is given: the rules pass the
 * session whose optimizer runs them, the operators their DataFrame's.
 *
 * Both go through one memo keyed on the canonicalized probe plan (the
 * sampled child plus its expressions and row bound, or the spread
 * child) and `defaultParallelism`. Each join side is cached on its own,
 * so a statement whose left side changed re-samples only that side, and
 * the key is the plan itself, so no two plans share an entry. The memo
 * is cleared past 256 entries and holds its keys' plans (with any local
 * rows or RDDs they reference) until then. An entry goes stale only when
 * the same canonical scan's data changes within the session, the same
 * window Catalyst's relation statistics have.
 *
 * One re-entrancy guard: a probe's own query passes through the
 * optimizer, so while a probe runs on this thread [[sample]] returns
 * None and the spread decision passes the child through. Planning work
 * thus stays bounded on nested joins.
 */
private[graft] object Probe extends Logging {

  private val MemoBound = 256

  private val running = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  private case class Key(isSample: Boolean, plan: LogicalPlan, parallelism: Int)

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()

  /** Memoized, guarded run of `work`; `fallback` inside another probe or
    * when the probe fails (logged, not memoized). */
  private def memoized[T <: AnyRef](spark: SparkSession, isSample: Boolean,
                                    plan: LogicalPlan, fallback: T)
                                   (work: => T): T = {
    if (running.get) return fallback
    running.set(true)
    try {
      val key = Key(isSample, plan.canonicalized,
        spark.sparkContext.defaultParallelism)
      val hit = memo.get(key)
      if (hit != null) hit.asInstanceOf[T]
      else {
        val v = work
        if (memo.size > MemoBound) memo.clear()
        memo.put(key, v)
        v
      }
    } catch {
      case NonFatal(e) =>
        logWarning(s"Probe: plan-time probe failed ($e); keeping the plan")
        fallback
    } finally running.set(false)
  }

  /** At most `rows` rows of `exprs` over `child`; None inside another
    * probe or when the sample fails. */
  def sample(spark: SparkSession, child: LogicalPlan, exprs: Seq[NamedExpression],
             rows: Int): Option[Array[InternalRow]] = {
    val plan = Limit(Literal(rows), Project(exprs, child))
    memoized[Option[Array[InternalRow]]](spark, isSample = true, plan, None) {
      Some(spark.sessionState.executePlan(plan).executedPlan.executeCollect())
    }
  }

  /** `Some(defaultParallelism)` when `child` is a batch plan, exchange-free
    * with fewer leaf partitions than that, else None (also inside another
    * probe). */
  def spreadWidth(spark: SparkSession, child: LogicalPlan): Option[Int] =
    if (child.isStreaming) None
    else memoized[Option[Int]](spark, isSample = false, child, None) {
      val par = spark.sparkContext.defaultParallelism
      val phys = spark.sessionState.executePlan(child).sparkPlan
      val leaves = phys.collectLeaves()
      if (leaves.isEmpty || phys.exists(_.isInstanceOf[Exchange])) None
      else if (leaves.map(_.execute().getNumPartitions).sum < par) Some(par)
      else None
    }

  /** One side of a rule's cell or bucket join: `child`, under a
    * round-robin `Repartition` when [[spreadWidth]] says so, exploded by
    * `gen` into one new non-null long column `name` (the Generate's only
    * output attribute). */
  def explodeSpread(spark: SparkSession, child: LogicalPlan, gen: Generator,
                    name: String): Generate = {
    val spread = spreadWidth(spark, child)
      .fold(child)(Repartition(_, shuffle = true, child))
    Generate(gen, Nil, outer = false, qualifier = None,
      generatorOutput = Seq(AttributeReference(name, LongType, nullable = false)()),
      child = spread)
  }
}
