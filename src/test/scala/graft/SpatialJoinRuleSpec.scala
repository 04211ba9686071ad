package graft

import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL spatial-join rewrite: st_* join conditions plan as cell hash
  * joins with identical results to the nested-loop reference plan. */
class SpatialJoinRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(sql: String): Set[(Int, Long)] =
    spark.sql(sql).collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  test("SQL join on st_contains rewrites to a hash join with unchanged results") {
    Tables.nationRects(spark, dir).createOrReplaceTempView("nrect")
    Tables.customerPts(spark, dir).createOrReplaceTempView("cpts")
    val sql = "SELECT n_nationkey, c_custkey FROM nrect JOIN cpts ON st_contains(n_geo, c_geo)"

    val withRule = spark.sql(sql)
    val plan = withRule.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val rewritten = pairs(sql)

    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      val bnlj = spark.sql(sql)
      assert(bnlj.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(pairs(sql) == rewritten)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("a pre-existing user column named __gcell_l does not suppress the rewrite") {
    Tables.nationRects(spark, dir)
      .withColumn("__gcell_l", lit(42L)).createOrReplaceTempView("nrect_gc")
    Tables.customerPts(spark, dir).createOrReplaceTempView("cpts")
    val sql = "SELECT n_nationkey, c_custkey FROM nrect_gc JOIN cpts ON st_contains(n_geo, c_geo)"
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
    val base = pairs("SELECT n_nationkey, c_custkey FROM nrect_gc JOIN cpts ON st_contains(n_geo, c_geo)")
    assert(base.nonEmpty)
  }

  test("a broadcast-hinted spatial join keeps its nested-loop plan and results") {
    Tables.nationRects(spark, dir).createOrReplaceTempView("nrect")
    Tables.customerPts(spark, dir).createOrReplaceTempView("cpts")
    val hinted = spark.sql("SELECT /*+ BROADCAST(cpts) */ n_nationkey, c_custkey " +
      "FROM nrect JOIN cpts ON st_contains(n_geo, c_geo)")
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
    val got = hinted.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val rewritten = pairs(
      "SELECT n_nationkey, c_custkey FROM nrect JOIN cpts ON st_contains(n_geo, c_geo)")
    assert(got == rewritten && got.nonEmpty)
  }

  test("SQL join on st_within_distance rewrites to a hash join, results == BNLJ") {
    Tables.customerPts(spark, dir).createOrReplaceTempView("cpts")
    Tables.supplierPts(spark, dir).createOrReplaceTempView("spts")
    val sql = "SELECT c_custkey, s_suppkey FROM cpts JOIN spts " +
      "ON st_within_distance(c_geo, s_geo, 25.0)"
    def keyPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withRule = spark.sql(sql)
    val plan = withRule.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
    val rewritten = keyPairs(withRule)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      assert(keyPairs(spark.sql(sql)) == rewritten)
    } finally spark.experimental.extraOptimizations = saved
    assert(rewritten.nonEmpty)
    // a NON-constant distance cannot pick a cell radius — no rewrite, but
    // the join still answers (nested loop)
    val dyn = spark.sql("SELECT c_custkey, s_suppkey FROM cpts JOIN spts " +
      "ON st_within_distance(c_geo, s_geo, CAST(c_custkey % 10 AS DOUBLE))")
    assert(dyn.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("swapped argument order resolves and rewrites too") {
    Tables.nationRects(spark, dir).createOrReplaceTempView("nrect")
    Tables.customerPts(spark, dir).createOrReplaceTempView("cpts")
    val a = pairs("SELECT n_nationkey, c_custkey FROM nrect JOIN cpts ON st_contains(n_geo, c_geo)")
    val b = pairs("SELECT n_nationkey, c_custkey FROM nrect JOIN cpts ON st_containedby(c_geo, n_geo)")
    assert(a == b && a.nonEmpty)
  }

  test("rule path spreads a single-partition side below its Generate and leaves a wide side alone") {
    val par = spark.sparkContext.defaultParallelism
    def points(parts: Int, id: String, geo: String) =
      spark.range(0, 300, 1, parts).selectExpr(s"id AS $id",
        s"st_point(CAST(id * 7 % 300 AS DOUBLE), CAST(id * 13 % 300 AS DOUBLE)) AS $geo")
    points(1, "nid", "ngeo").createOrReplaceTempView("sp_narrow")
    points(par, "wid", "wgeo").createOrReplaceTempView("sp_wide")
    val sql = "SELECT nid, wid FROM sp_narrow JOIN sp_wide ON st_within_distance(ngeo, wgeo, 12.0)"
    val df = spark.sql(sql)
    val plan = df.queryExecution.sparkPlan
    // RoundRobin exchanges under each side's cell explode, keyed by the
    // cell column the Generate emits (__gcell_l: the left, narrow side)
    val roundRobins = plan.collect { case g: GenerateExec =>
      g.generatorOutput.head.name -> g.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }.size
    }.toMap
    assert(roundRobins == Map("__gcell_l" -> 1, "__gcell_r" -> 0), plan.toString.take(1500))
    def keyPairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rewritten = keyPairs(df)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      assert(keyPairs(spark.sql(sql)) == rewritten)
    } finally spark.experimental.extraOptimizations = saved
    assert(rewritten.nonEmpty)
  }
}
