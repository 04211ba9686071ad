package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
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
}
