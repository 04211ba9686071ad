package graft

import graft.operators.{JoinPredicate, SpatialJoin}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
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

  private def withCellSize[T](cs: Double)(f: => T): T = {
    val key = "spark.graft.join.cellSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cs.toString)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** (Generate, RoundRobin exchange, join) node counts of a collected
    * frame's final plan, looking inside adaptive query stages. */
  private def planShape(df: DataFrame): (Int, Int, Int) = {
    df.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    def count(f: PartialFunction[SparkPlan, Unit]) =
      helper.collect(df.queryExecution.executedPlan)(f).size
    (count { case _: GenerateExec => },
      count { case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => },
      count { case _: BaseJoinExec => })
  }

  /** Single-partition points and boxes, so both join sides are spread. */
  private def opInputs(): (DataFrame, DataFrame) = {
    val pts = spark.range(0, 400, 1, 1).selectExpr("id AS pid",
      "st_point(CAST(id * 37 % 400 AS DOUBLE), CAST(id * 91 % 400 AS DOUBLE)) AS pgeo")
    val boxes = spark.range(0, 40, 1, 1).selectExpr("id AS bid",
      "st_box(CAST(id * 9 AS DOUBLE), CAST(id * 7 AS DOUBLE), " +
        "CAST(id * 9 + 45 AS DOUBLE), CAST(id * 7 + 60 AS DOUBLE)) AS bgeo")
    (pts, boxes)
  }

  test("SpatialJoin.join and distanceJoin plan and answer like their SQL form at the same cell size") {
    val (pts, boxes) = opInputs()
    pts.createOrReplaceTempView("op_pts")
    boxes.createOrReplaceTempView("op_boxes")
    pts.selectExpr("pid AS qid", "pgeo AS qgeo").createOrReplaceTempView("op_qts")
    def ids(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withCellSize(50.0) {
      val op = SpatialJoin.join(boxes, pts, col("bgeo"), col("pgeo"),
        JoinPredicate.Contains, 50.0)
      val sql = spark.sql("SELECT * FROM op_boxes JOIN op_pts ON st_contains(bgeo, pgeo)")
      assert(op.columns.toSeq == sql.columns.toSeq)
      assert(ids(op.select("bid", "pid")) == ids(sql.select("bid", "pid")) &&
        ids(op.select("bid", "pid")).nonEmpty)
      assert(planShape(op) == planShape(sql), op.queryExecution.executedPlan.toString.take(2000))
      assert(planShape(op)._1 == 2 && planShape(op)._2 == 2)

      val opD = SpatialJoin.distanceJoin(pts, pts.selectExpr("pid AS qid", "pgeo AS qgeo"),
        col("pgeo"), col("qgeo"), 30.0, 50.0)
      val sqlD = spark.sql("SELECT * FROM op_pts JOIN op_qts " +
        "ON st_within_distance(pgeo, qgeo, 30.0)")
      assert(ids(opD.select("pid", "qid")) == ids(sqlD.select("pid", "qid")))
      assert(ids(opD.select("pid", "qid")).size > 400)
      assert(planShape(opD) == planShape(sqlD), opD.queryExecution.executedPlan.toString.take(2000))
    }
  }

  test("an operator input with a column named __gcell_l joins like any other column") {
    val (pts, boxes) = opInputs()
    val tagged = boxes.withColumn("__gcell_l", col("bid") * 10)
    val got = SpatialJoin.join(tagged, pts, col("bgeo"), col("pgeo"),
        JoinPredicate.Contains, 50.0)
      .select("bid", "__gcell_l", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = SpatialJoin.broadcastJoin(tagged, pts, col("bgeo"), col("pgeo"),
        JoinPredicate.Contains)
      .select("bid", "__gcell_l", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp && got.nonEmpty && got.forall { case (b, c, _) => c == b * 10 })
    val near = SpatialJoin.distanceJoin(pts.withColumn("__gcell_r", lit(1L)),
        pts.selectExpr("pid AS qid", "pgeo AS qgeo"), col("pgeo"), col("qgeo"), 30.0, 50.0)
    assert(near.columns.contains("__gcell_r") && near.count() > 400)
  }

  test("register adds no rule the session's extensions already inject") {
    import org.apache.spark.sql.SparkSession
    import graft.plans.{AsOfJoinRule, CellPruneRule, RangeJoinRule, SpatialJoinRule}
    val rules = Seq(SpatialJoinRule, RangeJoinRule, AsOfJoinRule, CellPruneRule)
    def batchesHolding(s: SparkSession) =
      rules.map(r => s.sessionState.optimizer.batches.count(_.rules.contains(r)))
    spark // the shared session exists before a second one is built
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    try {
      assert(ext ne spark)
      val injected = batchesHolding(ext)
      assert(injected.forall(_ > 0), injected)
      graft.functions.GraftFunctions.register(ext)
      graft.functions.GraftFunctions.register(ext)
      assert(batchesHolding(ext) == injected)
      assert(ext.experimental.extraOptimizations.isEmpty)
      // without the extension, register adds each rule once
      graft.functions.GraftFunctions.register(spark)
      assert(batchesHolding(spark) == rules.map(_ => 1))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("the streaming spatial joins run without a plan-time probe warning") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("probe-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("plan-time probe failed")) warnings.add(m)
      }
    }
    appender.start()
    val logger = LogManager.getLogger("graft.plans.Probe").asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val regions = Seq((1L, 0.0, 0.0, 10.0, 10.0)).toDF("region_id", "x0", "y0", "x1", "y1")
        .select(col("region_id"), graft.functions.stf.st_box(
          col("x0"), col("y0"), col("x1"), col("y1")).as("r_geo"))
      val ptsIn = MemoryStream[(Long, Double, Double)]
      val pts = ptsIn.toDF().toDF("pt_id", "x", "y")
        .withColumn("p_geo", graft.functions.stf.st_point(col("x"), col("y")))
      val staticQ = graft.streaming.EventStreams.spatialJoinStatic(pts, regions,
          col("p_geo"), col("r_geo"), JoinPredicate.CoveredBy, cellSize = 8.0)
        .writeStream.format("memory").queryName("probe_warn_static")
        .outputMode("append").start()
      try {
        ptsIn.addData((1L, 5.0, 5.0), (2L, 25.0, 25.0))
        staticQ.processAllAvailable()
      } finally staticQ.stop()
      assert(spark.table("probe_warn_static").count() == 1)

      val aIn = MemoryStream[(Long, Double, Double, Timestamp)]
      val bIn = MemoryStream[(Long, Double, Double, Timestamp)]
      val a = aIn.toDF().toDF("a_id", "ax", "ay", "ats")
        .withColumn("a_geo", graft.functions.stf.st_point(col("ax"), col("ay")))
      val b = bIn.toDF().toDF("b_id", "bx", "by", "bts")
        .withColumn("b_geo", graft.functions.stf.st_box(col("bx") - 5.0,
          col("by") - 5.0, col("bx") + 5.0, col("by") + 5.0))
      val streamQ = graft.streaming.EventStreams.spatialJoinStreamStream(a, b,
          col("a_geo"), col("b_geo"), JoinPredicate.CoveredBy, cellSize = 8.0,
          leftTsCol = "ats", rightTsCol = "bts")
        .select(col("a_id"), col("b_id"))
        .writeStream.format("memory").queryName("probe_warn_stream")
        .outputMode("append").start()
      try {
        val t = Timestamp.valueOf("2024-01-01 00:10:00")
        aIn.addData((1L, 5.0, 5.0, t), (2L, 50.0, 50.0, t))
        bIn.addData((100L, 5.0, 5.0, t))
        streamQ.processAllAvailable()
      } finally streamQ.stop()
      assert(spark.table("probe_warn_stream").count() == 1)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(warnings.isEmpty, warnings.toString)
  }
}
