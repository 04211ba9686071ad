package graft

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{DataFrame, Encoders, Row, classic}

package object plans {

  /** How an operator runs a rewrite rule's join: `rewrite` gets the
    * analyzed `Join` of `plain` (the operator's plain predicate join) and
    * its result runs as a DataFrame of `plain`'s session. Where the rule
    * declines, `plain` itself runs: the same rows, unrewritten. */
  private[graft] def rewrittenJoin(plain: DataFrame)
                                  (rewrite: Join => Option[LogicalPlan]): DataFrame =
    (plain.queryExecution.analyzed match {
      case j: Join => rewrite(j)
      case _ => None
    }).fold(plain)(p => new classic.Dataset[Row](
      plain.sparkSession.asInstanceOf[classic.SparkSession], p, Encoders.row(p.schema)))

  /** `df` computed once into an eager local checkpoint, with the same
    * jobs as `Dataset.localCheckpoint()`, whose plan carries the row count
    * and byte size its final job measured instead of the optimizer's
    * estimate for the query it replaces. A join that reads it is planned
    * from its real size: a small table is broadcast up front, where an
    * estimate above the broadcast threshold would have the big side
    * shuffled first (and AQE then read that shuffle locally once it saw
    * the small side). The byte size sums the rows' `UnsafeRow` sizes.
    * Unlike `localCheckpoint`, the plan keeps no output partitioning.
    * `Dedup.releaseCheckpoint` frees its blocks. */
  private[graft] def measuredCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val width = EstimationUtils.getSizePerRow(qe.analyzed.output).toLong
      val (rows, bytes) = rdd.map {
        case u: UnsafeRow => (1L, u.getSizeInBytes.toLong)
        case _ => (1L, width)
      }.fold((0L, 0L)) { case ((r1, b1), (r2, b2)) => (r1 + r2, b1 + b2) }
      val measured = LogicalRDD(qe.analyzed.output, rdd)(
        session, Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows))))
      new classic.Dataset[Row](session, measured, Encoders.row(df.schema))
    }
  }
}
