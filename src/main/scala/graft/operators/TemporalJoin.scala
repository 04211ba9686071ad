package graft.operators

import graft.plans.{RangeJoinRule, rewrittenJoin}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, LessThanOrEqual}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.locationtech.jts.index.ItemVisitor
import org.locationtech.jts.index.intervalrtree.SortedPackedIntervalRTree

import scala.collection.mutable.ArrayBuffer

/**
 * Interval-overlap θ-join on long epoch intervals — the query the
 * reference serves with its temporal live index (reference
 * spatial/indexed/IntervalTree1.scala, plugged in via IndexFactory), with
 * the overlap rule of its Interval algebra (Interval.scala:32-44: closed
 * intervals `[s, e]` overlap iff s1 <= e2 AND s2 <= e1).
 *
 * Spark-first shape instead of a per-partition tree: each interval explodes
 * the fixed-width time buckets it spans, Spark hash-joins on the bucket id,
 * the exact overlap predicate refines, and a pair is reported only from the
 * bucket containing max(s1, s2) — exactly one report per overlapping pair,
 * no distinct shuffle (the temporal twin of the spatial reference-point
 * rule). Choose `bucket` near the typical interval length so replication
 * stays O(1) per row.
 */
object TemporalJoin {

  /** Exact floor-division bucket id for ANY long epoch: the numerator
    * `c - pmod(c, b)` is the exact floorDiv multiple in LONG arithmetic,
    * and the SQL `div` (integral divide) of an exact multiple is the exact
    * quotient — no double division anywhere, so this agrees bit-for-bit
    * with `Math.floorDiv` in [[overlapsIndexed]]'s refine at every
    * magnitude (a `/`-based formulation silently diverges past 2^53, i.e.
    * nanosecond epochs). */
  private[graft] def bucketOf(c: Column, bucket: Long): Column =
    call_function("div", c - pmod(c, lit(bucket)), lit(bucket))

  /** Working columns would be silently clobbered by withColumn (resolution
    * is case-insensitive) — fail loudly instead. */
  private def requireFree(df: DataFrame, names: String*): Unit =
    names.foreach(n => require(!df.columns.exists(_.equalsIgnoreCase(n)),
      s"TemporalJoin: input must not contain a column named $n"))

  /** Interval-overlap join: `left.join(right, lStart <= rEnd AND rStart
    * <= lEnd)` as the bucket join of
    * [[graft.plans.RangeJoinRule.rewriteWith]] (its one builder) at
    * `bucket`. `bucket = -1` ⇒ AUTO: the rule's own sizer,
    * [[graft.plans.RangeJoinRule.autoBucket]], picks it from a bounded
    * sample of both sides' interval lengths; a side it cannot size from
    * (empty, or all-null bounds) fails loudly — pass a bucket. A row
    * spanning more than `spark.graft.join.timeBucketMaxSpan` (4096)
    * buckets raises the rule's runtime span-cap error. */
  def overlaps(left: DataFrame, right: DataFrame,
               lStart: Column, lEnd: Column, rStart: Column, rEnd: Column,
               bucket: Long): DataFrame = {
    require(bucket > 0 || bucket == -1L, s"bucket must be positive or -1 (auto), got $bucket")
    val spark = left.sparkSession
    rewrittenJoin(left.join(right, lStart <= rEnd && rStart <= lEnd)) { j =>
      val (ls, le, rs, re) = overlapBounds(j)
      Some(RangeJoinRule.rewriteWith(spark, j, ls, le, rs, re,
        if (bucket == -1L) autoBucket(spark, j) else bucket))
    }
  }

  /** (lStart, lEnd, rStart, rEnd) read off the analyzed plain overlap join. */
  private def overlapBounds(j: Join): (Expression, Expression, Expression, Expression) =
    j.condition match {
      case Some(And(LessThanOrEqual(ls, re), LessThanOrEqual(rs, le))) => (ls, le, rs, re)
      case c => throw new IllegalStateException(s"TemporalJoin: not an overlap condition: $c")
    }

  /** [[graft.plans.RangeJoinRule.autoBucket]] for the plain overlap join `j`. */
  private def autoBucket(spark: SparkSession, j: Join): Long = {
    val (ls, le, rs, re) = overlapBounds(j)
    RangeJoinRule.autoBucket(spark, j, ls, le, rs, re).getOrElse(
      throw new IllegalArgumentException("TemporalJoin: bucket = -1 (auto) " +
        "found no bucket for these inputs (a side with no non-null bounds?) " +
        "— pass an explicit bucket"))
  }

  /**
   * [[overlaps]] with a per-bucket interval-tree refine — the reference's
   * temporal live index made explicit (reference
   * spatial/indexed/IntervalTree1.scala:18-48 wraps JTS
   * `SortedPackedIntervalRTree`; we use the same JTS structure). Shuffle
   * shape is identical to [[overlaps]] (explode buckets, hash-partition by
   * bucket id via `cogroup`); within a bucket the right intervals pack into
   * the tree once and each left interval probes in O(log n + hits) instead
   * of scanning the bucket. The exact closed-interval rule plus the
   * max-start-bucket report rule refine every hit, so output equals
   * [[overlaps]] exactly.
   *
   * Long epochs ride through the tree as doubles, OUTWARD-rounded one ulp
   * on insert and query (`nextDown`/`nextUp`): past 2^53 a
   * nearest-rounding could shrink an interval and silently miss a
   * borderline hit; outward rounding only widens the candidate set and
   * the exact long-arithmetic refine removes the extras.
   */
  def overlapsIndexed(left: DataFrame, right: DataFrame,
                      lStart: String, lEnd: String, rStart: String, rEnd: String,
                      bucket: Long): DataFrame = {
    require(bucket > 0 || bucket == -1L, s"bucket must be positive or -1 (auto), got $bucket")
    val bucketR =
      if (bucket != -1L) bucket
      else autoBucket(left.sparkSession, left.join(right,
        col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd)).queryExecution.analyzed.asInstanceOf[Join])
    requireFree(left, "__tb"); requireFree(right, "__tb")
    val l = left.withColumn("__tb",
      explode(sequence(bucketOf(col(lStart), bucketR), bucketOf(col(lEnd), bucketR))))
    val r = right.withColumn("__tb",
      explode(sequence(bucketOf(col(rStart), bucketR), bucketOf(col(rEnd), bucketR))))
    val lS = l.schema.fieldIndex(lStart); val lE = l.schema.fieldIndex(lEnd)
    val lB = l.schema.fieldIndex("__tb")
    val rS = r.schema.fieldIndex(rStart); val rE = r.schema.fieldIndex(rEnd)
    val rB = r.schema.fieldIndex("__tb")
    val outSchema = StructType(left.schema.fields ++ right.schema.fields)
    val lkv = l.groupByKey(_.getLong(lB))(Encoders.scalaLong)
    val rkv = r.groupByKey(_.getLong(rB))(Encoders.scalaLong)
    lkv.cogroup(rkv) { (bkt, lIt, rIt) =>
      val tree = new SortedPackedIntervalRTree()
      var n = 0
      rIt.foreach { rr =>
        tree.insert(Math.nextDown(rr.getLong(rS).toDouble),
          Math.nextUp(rr.getLong(rE).toDouble), rr)
        n += 1
      }
      if (n == 0) Iterator.empty
      else lIt.flatMap { lr =>
        val s1 = lr.getLong(lS); val e1 = lr.getLong(lE)
        val hits = new ArrayBuffer[Row]()
        tree.query(Math.nextDown(s1.toDouble), Math.nextUp(e1.toDouble), new ItemVisitor {
          override def visitItem(o: Object): Unit = hits += o.asInstanceOf[Row]
        })
        hits.iterator.filter { rr =>
          val s2 = rr.getLong(rS); val e2 = rr.getLong(rE)
          s1 <= e2 && s2 <= e1 &&
            java.lang.Math.floorDiv(math.max(s1, s2), bucketR) == bkt
        }.map(rr => Row.fromSeq(lr.toSeq.dropRight(1) ++ rr.toSeq.dropRight(1)))
      }
    }(Encoders.row(outSchema))
  }

  /**
   * As-of join: each left row pairs with the single LATEST right row whose
   * time is at or before the left time and within `maxLookback` (strict:
   * rTime > lTime − maxLookback); ties on time break by the largest
   * `tieBreak`. Inner semantics — left rows with no right row in the
   * window are dropped.
   *
   * Plan shape (r11 — the sf1 sweep's lesson): the original lookback-bucket
   * replicate-and-rank formulation materialized, per left row, EVERY right
   * row in its lookback window — at a fixed lookback that candidate count
   * grows as density², so 10× denser streams cost 100× (measured 0.64 s →
   * 131 s on q43). This formulation is density-INDEPENDENT: both sides
   * union into one range-partitioned timeline (rights sort before lefts at
   * equal instants, tie order ascending so the latest-greatest right is
   * the last one seen), each partition carries the latest right forward
   * with one window pass, and partition boundaries are healed by a
   * partitions-sized carry-in table (per-partition max right, prefix-max
   * joined back — broadcast-tiny). Total cost: one range shuffle + one
   * per-partition window, O(n log n) at ANY density; the lookback becomes
   * a post-filter on the carried time (exact: the globally-latest right at
   * or before a left instant is in-window iff ANY right is).
   *
   * `leftId` is retained for signature stability and collision checking
   * (output = left.* ++ right.*, so the name must not appear on the
   * right); the carry-forward plan itself needs no per-left key.
   *
   * Contract: `(rTime, tieBreak)` must be unique across right rows — the
   * winner among exact ties is otherwise unspecified (the same contract
   * every rank-by-time as-of holds). Right payload columns are carried,
   * never ordered, so non-orderable types (e.g. MapType) ride through.
   *
   * `outer = true` gives LEFT OUTER semantics (DuckDB `ASOF LEFT JOIN`):
   * every left row survives; rows with no in-window right — including
   * rows whose key or time is NULL, which can never match — carry NULL
   * right columns. Same plan, the drop-filter becomes a null-out.
   */
  def asOf(left: DataFrame, right: DataFrame, leftId: String,
           lTime: Column, rTime: Column, maxLookback: Long,
           tieBreak: Column, outer: Boolean = false): DataFrame =
    asOfImpl(left, right, leftId, lit(0L), lit(0L), lTime, rTime,
      maxLookback, tieBreak, outer)

  /**
   * Per-entity as-of join — [[asOf]] with an equality key (the variant
   * every real event pipeline needs first: latest quote per symbol,
   * latest view per user; DuckDB's ASOF JOIN and pandas `merge_asof`
   * are per-key in exactly this sense): each left row pairs with the
   * single latest right row OF THE SAME KEY at or before the left time,
   * within `maxLookback`. Rows with a NULL key match nothing (SQL join
   * equality). Composite keys pass as `struct(...)`.
   *
   * Plan shape: the SAME density-independent carry-forward timeline as
   * [[asOf]], range-partitioned by (key, time) — a key's rows are
   * contiguous across partitions, so the per-partition carry just gains
   * the key as its leading sort column, the in-partition window
   * partitions by (pid, key), and the driver-side prefix walk is
   * unchanged: the range ordering guarantees AT MOST the boundary-
   * spanning key of each partition needs a carry-in, and the latest
   * right of the walk is that key's latest right iff the keys match —
   * one key-equality guard on the same ≤-numPartitions-row carry table.
   * O(n log n) at any per-key density, never keyed-shuffle-skewed (a hot
   * key spreads over adjacent range partitions instead of hashing to
   * one task... except in the (pid, key) window, whose groups are
   * partition-bounded by construction).
   */
  def asOfKeyed(left: DataFrame, right: DataFrame, leftId: String,
                lKey: Column, rKey: Column, lTime: Column, rTime: Column,
                maxLookback: Long, tieBreak: Column,
                outer: Boolean = false): DataFrame =
    asOfImpl(left, right, leftId, lKey, rKey, lTime, rTime,
      maxLookback, tieBreak, outer)

  /** Shared carry-forward timeline kernel: [[asOf]] is the degenerate
    * `key = lit(0)` instance (constant key — the guards and partitioners
    * collapse to the unkeyed plan). */
  private def asOfImpl(left: DataFrame, right: DataFrame, leftId: String,
                       lKey: Column, rKey: Column,
                       lTime: Column, rTime: Column, maxLookback: Long,
                       tieBreak: Column, outer: Boolean): DataFrame = {
    require(maxLookback > 0, s"maxLookback must be positive, got $maxLookback")
    val work = Seq("__ao_k", "__ao_t", "__ao_g", "__ao_tb", "__ao_rv",
      "__ao_lv", "__ao_pid", "__ao_w", "__ao_cin", "__ao_best", "__ao_m")
    requireFree(left, work: _*); requireFree(right, work: _*)
    require(!right.columns.exists(_.equalsIgnoreCase(leftId)),
      s"asOf: right must not contain the left id column '$leftId' " +
      "(the output carries both sides' columns)")
    if (outer) {
      // outer mode appends the null-extended left rows via unionByName,
      // which resolves columns BY NAME on the matched frame — ANY name
      // shared between the sides is ambiguous there and would surface as
      // a deep analyzer AnalysisException. (Inner mode tolerates duplicate
      // output names since it only selects.) Fail at the API boundary
      // with the fix instead.
      val shared = left.columns.map(_.toLowerCase)
        .intersect(right.columns.map(_.toLowerCase))
      require(shared.isEmpty,
        s"asOf(outer=true): left and right share column name(s) " +
        s"${shared.mkString(", ")} — rename one side before joining " +
        "(the outer union resolves the combined output by name)")
    }
    val tbType = right.select(tieBreak).schema.head.dataType
    val rv = struct(right.columns.map(col): _*)
    val lv = struct(left.columns.map(col): _*)
    val rvType = right.select(rv).schema.head.dataType
    val lvType = left.select(lv).schema.head.dataType
    // NULL-keyed rows match nothing under join equality — drop them
    // before they can meet in a window group
    val rPack = right.filter(rKey.isNotNull)
      .select(rKey.as("__ao_k"), rTime.as("__ao_t"), lit(0).as("__ao_g"),
        tieBreak.as("__ao_tb"), rv.as("__ao_rv"),
        lit(null).cast(lvType).as("__ao_lv"))
    val lPack = left.filter(lKey.isNotNull)
      .select(lKey.as("__ao_k"), lTime.as("__ao_t"), lit(1).as("__ao_g"),
        lit(null).cast(tbType).as("__ao_tb"),
        lit(null).cast(rvType).as("__ao_rv"), lv.as("__ao_lv"))
    // pid must be IDENTICAL across the two reads below (the range
    // partitioner samples) — materialize once
    val timeline = rPack.unionByName(lPack)
      .repartitionByRange(col("__ao_k"), col("__ao_t"), col("__ao_g"), col("__ao_tb"))
      .sortWithinPartitions(col("__ao_k"), col("__ao_t"), col("__ao_g"), col("__ao_tb"))
      .withColumn("__ao_pid", spark_partition_id())
      .localCheckpoint()
    // partitions-sized carry-in: the range partitioner orders pids by the
    // (key, time) sort key, so a key's rows are CONTIGUOUS across pids and
    // the latest right in pids < p can only belong to pid p's boundary-
    // spanning key — the carry-in for pid p is the walk's latest right,
    // guarded by key equality at apply time. Computed on the driver over
    // the ≤-numPartitions-row per-pid max table (no θ-join, no global
    // window).
    // max_by keyed on (k, t, tb) ONLY — a max over a struct that packs
    // __ao_rv would demand every right column be orderable (a MapType
    // right column would fail analysis); (rTime, tieBreak) uniqueness per
    // key is the operator's contract, so the ordering key needs nothing
    // else
    val pidMax = timeline.filter(col("__ao_g") === 0)
      .groupBy(col("__ao_pid"))
      .agg(max_by(
        struct(col("__ao_k"), col("__ao_t"), col("__ao_tb"), col("__ao_rv")),
        struct(col("__ao_k"), col("__ao_t"), col("__ao_tb"))).as("__ao_m"))
    val pmRows = pidMax.collect().map(r => r.getInt(0) -> r.get(1)).sortBy(_._1)
    val spark = left.sparkSession
    val nParts = timeline.rdd.getNumPartitions
    val cinRows = new ArrayBuffer[Row]()
    var pmi = 0
    var lastM: Any = null
    var p = 0
    while (p < nParts) {
      cinRows += Row(p, lastM)
      while (pmi < pmRows.length && pmRows(pmi)._1 <= p) {
        lastM = pmRows(pmi)._2; pmi += 1
      }
      p += 1
    }
    val cin = spark.createDataFrame(
      java.util.Arrays.asList(cinRows.toSeq: _*),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("__ao_pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__ao_cin",
          pidMax.schema("__ao_m").dataType, nullable = true))))
    val w = Window.partitionBy(col("__ao_pid"), col("__ao_k"))
      .orderBy(col("__ao_t"), col("__ao_g"), col("__ao_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leftCols = left.columns.map(n => col(s"__ao_lv.$n").as(n))
    val rightCols = right.columns.map(n => col(s"__ao_best.__ao_rv.$n").as(n))
    val bestValid = col("__ao_best").isNotNull &&
      col("__ao_best.__ao_t") > col("__ao_t") - maxLookback
    val staged = timeline
      .withColumn("__ao_w", last(when(col("__ao_g") === 0,
        struct(col("__ao_t"), col("__ao_tb"), col("__ao_rv"))),
        ignoreNulls = true).over(w))
      .join(broadcast(cin), Seq("__ao_pid"), "left")
      .filter(col("__ao_g") === 1)
      .withColumn("__ao_best", coalesce(col("__ao_w"),
        when(col("__ao_cin.__ao_k") === col("__ao_k"),
          struct(col("__ao_cin.__ao_t").as("__ao_t"),
            col("__ao_cin.__ao_tb").as("__ao_tb"),
            col("__ao_cin.__ao_rv").as("__ao_rv")))))
    if (!outer) staged.filter(bestValid).select(leftCols ++ rightCols: _*)
    else {
      // LEFT OUTER: the drop-filter becomes a null-out (an out-of-window
      // carry means "no match" — exact by the same monotone argument),
      // and the NULL-KEYED left rows the timeline never admitted re-enter
      // as unmatched (they can never match under SQL join equality)
      val matched = staged
        .withColumn("__ao_best", when(bestValid, col("__ao_best")))
        .select(leftCols ++ rightCols: _*)
      val rSchema = right.schema
      val nullRight = right.columns.map(n =>
        lit(null).cast(rSchema(n).dataType).as(n))
      matched.unionByName(left.filter(lKey.isNull)
        .select(left.columns.map(col) ++ nullRight: _*))
    }
  }

  /**
   * Batch sessionization — the batch twin of the streaming
   * `flatMapGroupsWithState` sessionizer: within each key, events more
   * than `gap` time units apart start a new session. Appends
   * `session_seq` (0-based per key, in time order): a per-key window
   * computes the gap-break flags (`lag`) and their running sum — the
   * classic two-window formulation, both partitioned BY KEY, so the work
   * distributes over keys (each key's partition is its own event count —
   * bounded for real entity keys like users; this is the same per-key
   * state contract the streaming sessionizer holds).
   *
   * `tieBreak` orders simultaneous events deterministically (equal
   * timestamps never produce a gap, so the SESSION assignment is
   * tie-independent; the tie order only fixes the within-window row
   * order).
   */
  def sessionize(df: DataFrame, keyCol: Column, tsCol: Column,
                 tieBreak: Column, gap: Long): DataFrame = {
    require(gap > 0, s"gap must be positive, got $gap")
    require(!df.columns.exists(c =>
      c.equalsIgnoreCase("__sn_prev") || c.equalsIgnoreCase("session_seq")),
      "sessionize: input must not contain __sn_prev/session_seq columns")
    val w = Window.partitionBy(keyCol).orderBy(tsCol, tieBreak)
    df.withColumn("__sn_prev", lag(tsCol, 1).over(w))
      .withColumn("session_seq",
        sum(when(col("__sn_prev").isNull || tsCol - col("__sn_prev") > gap, 1L)
          .otherwise(0L)).over(w) - 1L)
      .drop("__sn_prev")
  }

  /**
   * Time-series resampling with last-observation-carried-forward: for each
   * key, a regular grid from floor(min(ts)/step)·step to max(ts) in `step`
   * increments, each grid instant carrying the latest observation at or
   * before it (NULL before the first observation). The classic gap-filling
   * pass in front of windowed feature extraction.
   *
   * Plan shape: observations and generated grid rows union into ONE
   * per-key window pass (`last` ignoring nulls over rows up to current) —
   * no as-of join, no lookback replication, unbounded carry distance for
   * free. At equal instants the observation sorts BEFORE the grid row, so
   * a grid point on an observation's timestamp carries that observation;
   * among simultaneous OBSERVATIONS the one with the largest `tieBreak`
   * wins (the latest by tie order — same determinism contract as
   * [[sessionize]]; the tie column never compares against a grid row,
   * whose group flag already orders it, so engine-specific NULL ordering
   * is never exercised). Grid size is range/step per key — size `step` to
   * the horizon; the window distributes over keys like [[sessionize]].
   *
   * Output: one row per grid instant — (key, `grid_t`, `valueName`).
   */
  def resampleLocf(df: DataFrame, keyCol: Column, tsCol: Column,
                   tieBreak: Column, valueCol: Column, step: Long,
                   valueName: String = "value_locf"): DataFrame = {
    require(step > 0, s"step must be positive, got $step")
    // null tie values floor to Long.MinValue: engines disagree on NULL
    // ordering inside windows (Spark nulls-first vs DuckDB nulls-last),
    // so a null tie must never reach the sort — MinValue keeps the row
    // and makes it lose every tie, identically everywhere
    val obs = df.select(keyCol.as("__rs_k"), tsCol.as("__rs_t"),
      coalesce(tieBreak.cast("long"), lit(Long.MinValue)).as("__rs_tb"),
      valueCol.as("__rs_v"), lit(0).as("__rs_g"))
    val grid = df.groupBy(keyCol.as("__rs_k"))
      .agg(min(tsCol).as("__rs_lo"), max(tsCol).as("__rs_hi"))
      .select(col("__rs_k"),
        explode(sequence(
          (col("__rs_lo") - pmod(col("__rs_lo"), lit(step))),
          col("__rs_hi"), lit(step))).as("__rs_t"))
      .withColumn("__rs_tb", lit(null).cast("long"))
      .withColumn("__rs_v", lit(null).cast(df.select(valueCol).schema.head.dataType))
      .withColumn("__rs_g", lit(1))
    val w = Window.partitionBy(col("__rs_k"))
      .orderBy(col("__rs_t"), col("__rs_g"), col("__rs_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.unionByName(grid)
      .withColumn(valueName, last(col("__rs_v"), ignoreNulls = true).over(w))
      .filter(col("__rs_g") === 1)
      .select(col("__rs_k").as("key"), col("__rs_t").as("grid_t"), col(valueName))
  }

  /**
   * Per-session rollup over [[sessionize]] output (or any frame carrying
   * `session_seq`): one row per (key, session) with event count, first
   * and last event time, and duration — the session table an analytics
   * user actually joins against. One groupBy, map-side combined.
   */
  def sessionStats(sessions: DataFrame, keyCol: Column, tsCol: Column)
    : DataFrame =
    sessions.groupBy(keyCol, col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(tsCol).as("t_start"), max(tsCol).as("t_end"))
      .withColumn("duration", col("t_end") - col("t_start"))
}
