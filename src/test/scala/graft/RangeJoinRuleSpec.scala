package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL interval range-join rewrite (plans/RangeJoinRule): overlap
  * θ-conditions plan as bucket hash joins with results identical to the
  * nested-loop reference plan, exactly once per pair. */
class RangeJoinRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withBucket[T](b: Long)(f: => T): T =
    withConfs("spark.graft.join.timeBucket" -> b.toString)(f)

  private def mkViews(): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // boundary-heavy: ends snapped to half-bucket multiples; a few
    // INVERTED intervals (s > e) — the θ-condition admits them and the
    // rewrite must not error or change their semantics
    val iv = (0 until 120).map { i =>
      val s = rnd.nextInt(40) * 50L
      val len = (rnd.nextInt(8) - 1) * 50L // -50 => inverted
      (i.toLong, s, s + len)
    }
    iv.toDF("id_a", "sa", "ea").createOrReplaceTempView("rja")
    iv.map { case (i, s, e) => (i + 1000L, s, e) }
      .toDF("id_b", "sb", "eb").createOrReplaceTempView("rjb")
  }

  private def run(sql: String): Set[(Long, Long)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("overlap θ-join rewrites to a bucket hash join; pairs equal the BNLJ plan exactly once") {
    mkViews()
    for (sql <- Seq(
      "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea",
      // reversed orientations and strict inequalities rewrite too, with
      // their exact semantics carried into the refine
      "SELECT id_a, id_b FROM rja JOIN rjb ON eb >= sa AND sb < ea")) {
      val brute = {
        val saved = spark.experimental.extraOptimizations
        try {
          spark.experimental.extraOptimizations = Nil
          run(sql)
        } finally spark.experimental.extraOptimizations = saved
      }
      withBucket(100L) {
        val df = spark.sql(sql)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"), plan.take(800))
        // exactly-once: collect as a LIST and compare multiplicities
        val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got.size == got.toSet.size, "report rule must emit each pair once")
        assert(got.toSet == brute,
          s"missing=${(brute -- got.toSet).take(5)} extra=${(got.toSet -- brute).take(5)}")
      }
    }
  }

  test("point-in-interval (BETWEEN) is the degenerate rewrite: the point side explodes one bucket") {
    mkViews()
    // BETWEEN desugars to sb <= sa AND sa <= eb — the pair resolves with
    // ls = le = sa, so the left side explodes exactly one bucket per row
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON sa BETWEEN sb AND eb"
    val brute = {
      val saved = spark.experimental.extraOptimizations
      try {
        spark.experimental.extraOptimizations = Nil
        run(sql)
      } finally spark.experimental.extraOptimizations = saved
    }
    withBucket(100L) {
      val df = spark.sql(sql)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == got.toSet.size && got.toSet == brute)
    }
  }

  test("ambiguity guard: a pushed id inequality makes the decomposition ambiguous — rule declines") {
    mkViews()
    // id_a < id_b pushes into the join condition as a THIRD crossing
    // integral inequality; picking it as an interval bound would explode
    // sequence() over an id-to-epoch span (the measured OOM) — the rule
    // must decline, leaving the (correct) nested-loop plan
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea WHERE id_a < id_b - 1000"
    withBucket(100L) {
      val df = spark.sql(sql)
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "ambiguous decomposition must decline the rewrite")
      // the non-inequality restatement keeps the rewrite live
      val sql2 = "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea " +
        "WHERE least(id_a, id_b - 1000) = id_a AND id_a <> id_b - 1000"
      val df2 = spark.sql(sql2)
      assert(!df2.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
      assert(df2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
  }

  test("timeCols hint disambiguates a pushed id inequality (the r12 decline becomes coverage)") {
    mkViews()
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea WHERE id_a < id_b - 1000"
    // without the hint: ambiguous -> declined (BNLJ, pinned above)
    val want = withBucket(100L) {
      spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    withConfs("spark.graft.join.timeBucket" -> "100",
        "spark.graft.join.timeCols" -> "sa, ea, sb, eb") {
      val df = spark.sql(sql)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "the hint names the bounds — the id pair no longer blocks the rewrite")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == got.toSet.size && got.toSet == want)
    }
  }

  test("timeCols hint protects non-temporal single-pair joins in the same session") {
    mkViews()
    // a band join on IDS: without the hint this is a single crossing
    // pair and would rewrite (exploding id-scale buckets); with the
    // hint set for a TEMPORAL workload elsewhere in the session, it
    // must be left alone
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON id_a <= id_b AND id_b - 2000 <= id_a"
    withConfs("spark.graft.join.timeBucket" -> "100",
        "spark.graft.join.timeCols" -> "sa, ea, sb, eb") {
      assert(spark.sql(sql).queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"),
        "a join referencing no named time column must not be rewritten")
    }
  }

  test("runtime span cap raises an actionable error instead of exploding sequence()") {
    import spark.implicits._
    Seq((1L, 0L, 10000L)).toDF("id_a", "sa", "ea").createOrReplaceTempView("rjwide_a")
    Seq((2L, 50L, 60L)).toDF("id_b", "sb", "eb").createOrReplaceTempView("rjwide_b")
    val sql = "SELECT id_a, id_b FROM rjwide_a JOIN rjwide_b ON sa <= eb AND sb <= ea"
    withConfs("spark.graft.join.timeBucket" -> "100",
        "spark.graft.join.timeBucketMaxSpan" -> "2") {
      val ex = intercept[Exception](spark.sql(sql).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("spans more than 2 time buckets")),
        msgs(ex).mkString(" | ").take(400))
    }
    // the default cap admits the same query
    withBucket(100L) {
      assert(spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 2L)))
    }
  }

  test("bucket 0 disables; integer bounds cast; extra conjuncts carried") {
    mkViews()
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea AND id_a + 1000 != id_b"
    val off = spark.sql(sql)
    assert(off.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val expected = off.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withBucket(100L) {
      assert(run(sql) == expected)
      // int32 bounds: the rewrite casts for bucketing, predicates untouched
      spark.sql("SELECT id_a, CAST(sa AS INT) AS sa, CAST(ea AS INT) AS ea FROM rja")
        .createOrReplaceTempView("rja_i")
      spark.sql("SELECT id_b, CAST(sb AS INT) AS sb, CAST(eb AS INT) AS eb FROM rjb")
        .createOrReplaceTempView("rjb_i")
      val gotI = run("SELECT id_a, id_b FROM rja_i JOIN rjb_i ON sa <= eb AND sb <= ea")
      val wantI = run("SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea")
      assert(gotI == wantI)
    }
  }

  /** The bucket literal the rewrite actually planted (via the Generate's
    * IntervalBucket children) — how the auto tests observe the choice. */
  private def plantedBuckets(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }.flatMap(_.collect {
      case graft.functions.IntervalBucket(_,
          org.apache.spark.sql.catalyst.expressions.Literal(b: Long, _)) => b
    })

  test("timeBucket=-1 auto-sizes from sampled interval lengths; results equal the hand-tuned rewrite") {
    mkViews()
    val sql = "SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea"
    val want = withBucket(100L)(run(sql))
    withBucket(-1L) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(800))
      // the derived bucket: a power of two scaled to the data (spans in
      // mkViews are 0..300, so the median-driven choice stays ≤ 512) and
      // ONE consistent value across every planted IntervalBucket (each
      // Generate's capped-sequence expression repeats bLo/bHi)
      val bs = plantedBuckets(df)
      assert(bs.nonEmpty && bs.distinct.length == 1, bs.toString)
      assert(bs.head >= 1 && bs.head <= 512 &&
        java.lang.Long.bitCount(bs.head) == 1, bs.toString)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == got.toSet.size, "exactly-once under auto bucket")
      assert(got.toSet == want)
    }
  }

  test("auto declines on a degenerate sample (all-null bounds) — original plan runs and answers") {
    import spark.implicits._
    mkViews()
    // parquet-backed so the optimizer cannot constant-fold the side away
    // (a LocalRelation would collapse through PropagateEmptyRelation and
    // there would be no join left to observe); the inferred IsNotNull
    // pushdown leaves the sampling query zero non-null bound rows, so
    // auto must decline and the original plan must still answer
    val tmp = java.nio.file.Files.createTempDirectory("rj_auto_null").toString
    Seq((10L, Option.empty[Long], Option.empty[Long]))
      .toDF("id_b", "sb", "eb").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("rj_nullb")
    withBucket(-1L) {
      val df = spark.sql(
        "SELECT id_a, id_b FROM rja JOIN rj_nullb ON sa <= eb AND sb <= ea")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"), plan.take(800))
      assert(df.collect().isEmpty)
    }
  }

  test("plan-time stats decline: provably cap-wide spans run the original join instead of erroring") {
    import spark.implicits._
    // every row spans [0..10, 10M..20M]: min(hi) − max(lo) ≈ 10M, far
    // beyond cap(default 4096) × bucket(4) — with ANALYZE stats + CBO the
    // rule must decline at plan time and the BNLJ must ANSWER, where the
    // pre-decline behavior was a runtime span-cap error
    spark.sql("DROP TABLE IF EXISTS rj_stats_a")
    spark.sql("DROP TABLE IF EXISTS rj_stats_b")
    try {
      (1 to 20).map(i => (i.toLong, i.toLong % 10, 10000000L + i * 1000L))
        .toDF("id_a", "sa", "ea").write.saveAsTable("rj_stats_a")
      (1 to 20).map(i => (100L + i, i.toLong % 10, 10000000L + i * 1000L))
        .toDF("id_b", "sb", "eb").write.saveAsTable("rj_stats_b")
      spark.sql("ANALYZE TABLE rj_stats_a COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.sql("ANALYZE TABLE rj_stats_b COMPUTE STATISTICS FOR ALL COLUMNS")
      val sql = "SELECT id_a, id_b FROM rj_stats_a JOIN rj_stats_b " +
        "ON sa <= eb AND sb <= ea"
      withConfs("spark.sql.cbo.enabled" -> "true",
          "spark.graft.join.timeBucket" -> "4") {
        val df = spark.sql(sql)
        assert(df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"), "stats must decline the rewrite")
        assert(df.collect().length == 400) // every pair overlaps — it ANSWERS
      }
      // stats absent (CBO off): the decline cannot fire; the runtime cap
      // remains the backstop for exactly this shape
      withConfs("spark.sql.cbo.enabled" -> "false",
          "spark.graft.join.timeBucket" -> "4") {
        val ex = intercept[Exception](spark.sql(sql).collect())
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(ex).exists(_.contains("time buckets")),
          msgs(ex).mkString(" | ").take(400))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS rj_stats_a")
      spark.sql("DROP TABLE IF EXISTS rj_stats_b")
    }
  }

  /** Spark jobs `f` submits on this thread. */
  private def jobsIn(f: => Any): Int = TestJobs.inputRowsPerJob(spark)(f).size

  /** A single-file parquet table of intervals (one scan partition, so a
    * side's sample is one job), under a fresh path so no earlier plan
    * shares its probe memo entries. */
  private def intervalTable(view: String, cols: Seq[String], seed: Int,
                            rows: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val path = java.nio.file.Files.createTempDirectory(s"rj_$view").toString
    (0 until rows).map { i =>
      val s = rnd.nextInt(5000).toLong
      (seed * 1000L + i, s, s + rnd.nextInt(400), rnd.nextInt(1000).toDouble,
        rnd.nextInt(1000).toDouble)
    }.toDF("id", "s", "e", "x", "y").coalesce(1)
      .write.mode("overwrite").parquet(path)
    // the first cols.size of (id, s, e, x, y), renamed to cols
    spark.read.parquet(path).selectExpr(
      Seq("id", "s", "e", "x", "y").zip(cols).map { case (c, n) => s"$c AS $n" }: _*)
      .createOrReplaceTempView(view)
  }

  private def rulesOff[T](f: => T): T = {
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      f
    } finally spark.experimental.extraOptimizations = saved
  }

  test("auto bucket samples each join side once: a changed left side re-samples only itself") {
    intervalTable("rjps_a", Seq("id_a", "sa", "ea"), 31, 300)
    intervalTable("rjps_b", Seq("id_b", "sb", "eb"), 32, 300)
    val sql = "SELECT id_a, id_b FROM rjps_a JOIN rjps_b ON sa <= eb AND sb <= ea"
    val changedSql = sql + " WHERE id_a % 7 <> 3"
    withBucket(-1L) {
      assert(jobsIn(spark.sql(sql).queryExecution.executedPlan) == 2,
        "a cold join samples both sides")
      val changed = spark.sql(changedSql)
      assert(jobsIn(changed.queryExecution.executedPlan) == 1,
        "only the changed left side is sampled again")
      assert(plantedBuckets(changed).nonEmpty, "the changed join still rewrites")
      assert(jobsIn(spark.sql(sql).queryExecution.executedPlan) == 0,
        "a repeated statement samples nothing")
      assert(run(changedSql) == rulesOff(run(changedSql)))
    }
  }

  test("nested candidate joins three levels deep plan, re-plan from the probe memo, and answer like the rules-off plan") {
    val cols = (t: String) => Seq(s"id_$t", s"s_$t", s"e_$t", s"x_$t", s"y_$t")
    Seq("a", "b", "c", "d", "e").zipWithIndex.foreach { case (t, i) =>
      intervalTable(s"rjn_$t", cols(t), 41 + i, 24)
    }
    // top: a range join whose two children each hold a range join; the
    // right one holds a spatial join one level further down
    val sql =
      """SELECT id_a, id_b, id_c, id_d, id_e FROM
        |  (SELECT id_a, id_b, s_a, e_a FROM rjn_a JOIN rjn_b
        |     ON s_a <= e_b AND s_b <= e_a) ab
        |JOIN
        |  (SELECT id_c, id_d, id_e, s_c, e_c FROM rjn_c JOIN
        |     (SELECT id_d, id_e, s_d, e_d FROM rjn_d JOIN rjn_e
        |        ON st_within_distance(st_point(x_d, y_d), st_point(x_e, y_e), 250.0)) de
        |     ON s_c <= e_d AND s_d <= e_c) cde
        |ON s_a <= e_c AND s_c <= e_a""".stripMargin
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
      df.collect().map(r => (0 until 5).map(r.getLong)).toSeq.sortBy(_.mkString(","))
    withBucket(-1L) {
      val df = spark.sql(sql)
      df.queryExecution.executedPlan // planning finishes
      assert(plantedBuckets(df).nonEmpty, "the range joins rewrite")
      assert(jobsIn(spark.sql(sql).queryExecution.executedPlan) == 0,
        "re-planning the nested statement hits the probe memo for every side")
      val want = rulesOff(rows(spark.sql(sql)))
      assert(want.nonEmpty)
      assert(rows(df) == want)
    }
  }

  test("TemporalJoin.overlaps runs the rule's bucket join: a __tb_l input column joins, auto sizes like the rule") {
    import graft.operators.TemporalJoin
    import org.apache.spark.sql.execution.GenerateExec
    mkViews()
    val a = spark.table("rja").withColumn("__tb_l", col("id_a") * 2)
    val b = spark.table("rjb").withColumn("__tb_r", lit(7L))
    val exp = run("SELECT id_a, id_b FROM rja JOIN rjb ON sa <= eb AND sb <= ea")
    for (bucket <- Seq(100L, -1L)) {
      val got = TemporalJoin.overlaps(a, b, col("sa"), col("ea"), col("sb"), col("eb"), bucket)
      val plan = got.queryExecution.sparkPlan
      assert(plan.collect { case g: GenerateExec => g }.size == 2, plan.toString.take(1500))
      assert(got.columns.toSeq == a.columns.toSeq ++ b.columns.toSeq)
      val rows = got.select("id_a", "id_b", "__tb_l", "__tb_r").collect()
      assert(rows.forall(r => r.getLong(2) == r.getLong(0) * 2 && r.getLong(3) == 7L))
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == exp && exp.nonEmpty)
      assert(rows.length == exp.size, "each overlapping pair exactly once")
    }
    // the same auto bucket as the SQL rule's timeBucket = -1
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def buckets(p: LogicalPlan): Set[Any] = p.flatMap(_.expressions.flatMap(_.collect {
      case graft.functions.IntervalBucket(_, Literal(v, _)) => v
    })).toSet
    withBucket(-1L) {
      val sqlB = buckets(spark.sql("SELECT * FROM rja JOIN rjb ON sa <= eb AND sb <= ea")
        .queryExecution.optimizedPlan)
      val opB = buckets(TemporalJoin.overlaps(spark.table("rja"), spark.table("rjb"),
        col("sa"), col("ea"), col("sb"), col("eb"), -1L).queryExecution.optimizedPlan)
      assert(opB.size == 1 && opB == sqlB, s"$opB vs $sqlB")
    }
  }
}
