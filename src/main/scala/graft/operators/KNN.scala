package graft.operators

import graft.functions.{GraftFunctions, stf}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * k-nearest-neighbor queries.
 *
 * Global kNN (the reference's kNN / knnTake / knnAgg / knn2 variants, which
 * all answer the same query — reference src/main/scala/org/apache/spark/
 * PlainSpatialRDDFunctions.scala:112-252) is expressed declaratively as
 * `ORDER BY distance LIMIT k`: Spark plans a TakeOrderedAndProject, which is
 * the per-partition-top-k + merge the reference hand-codes.
 *
 * kNN join (for every left row, its k nearest right rows): fully
 * distributed adaptive expand-radius scheme — see [[knnJoin]]. Unlike the
 * reference's per-right-partition k (no global re-merge — reference
 * SpatialKnnJoinRDD.scala:20-84, a documented semantics bug we do not
 * copy), results here are the true global k. Neither side is ever
 * materialized on the driver (only bounding-box/count scalars are), so the
 * operator survives right sides far beyond broadcast size.
 */
object KNN {

  /**
   * Global kNN of `qry` within `df`. Adds `distName` with the chosen
   * distance; deterministic order via (distance, tieBreak...).
   *
   * `distFn` is the reference's pluggable `distFunc` parameter (reference
   * PlainSpatialRDDFunctions.scala:112-136 / Distance.scala:118-168):
   * default centroid euclid; pass `stf.st_hausdorff`, `stf.st_distance`,
   * `stf.st_t_distance`, or a weighted `stf.st_st_distance(_, _, ws, wt)`
   * closure. TakeOrderedAndProject plans identically for any of them.
   */
  def knn(df: DataFrame, geo: Column, qry: Column, k: Int,
          distName: String = "dist", tieBreak: Seq[Column] = Nil,
          distFn: (Column, Column) => Column = stf.st_centroid_distance): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn(distName, distFn(geo, qry))
      .orderBy(col(distName) +: tieBreak: _*)
      .limit(k)
  }

  /**
   * kNN join bounded by a caller-chosen radius: candidates from the
   * cell-replicated within-distance join, then per-left-row window rank by
   * (distance, tieBreak). Scales as a shuffle join on grid cells — no
   * broadcast, no cartesian. Semantics: the k nearest neighbors *within
   * `radius`*; a left row with fewer than k in-radius neighbors returns
   * what exists. [[knnJoin]] wraps this with automatic radius adaptation
   * when true global-k semantics are required.
   *
   * `distFn` plugs the ranking metric (reference `distFunc`). CONTRACT: the
   * radius bound stays the *minimum geometry distance* (the candidate
   * generator prunes by envelope distance, which lower-bounds only metrics
   * that are >= the minimum distance — true for centroid, hausdorff, max
   * distance; a metric NOT bounded below by geometry distance, e.g. a pure
   * temporal one, would silently lose candidates). [[knnJoin]]'s
   * expand-radius loop stays centroid-only for the same reason: its
   * "finished after >= k in radius r" proof needs dist(candidate) <= r
   * exactly, which only the ranking metric == pruning metric guarantees.
   */
  def knnJoinWithin(left: DataFrame, right: DataFrame, leftGeom: Column, rightGeom: Column,
                    leftId: Column, k: Int, radius: Double, cellSize: Double,
                    tieBreak: Column, distName: String = "knn_dist",
                    distFn: (Column, Column) => Column = stf.st_centroid_distance): DataFrame = {
    val cands = SpatialJoin.distanceJoin(left, right, leftGeom, rightGeom, radius, cellSize)
      .withColumn(distName, distFn(leftGeom, rightGeom))
    val rn = row_number().over(
      Window.partitionBy(leftId).orderBy(col(distName), tieBreak))
    cands.withColumn("__rn", rn).filter(col("__rn") <= k).drop("__rn")
  }

  /** Cell-replicated candidate pairs with centroid distance <= radius.
    * Same replicate/ref-cell dedup shape as [[SpatialJoin.distanceJoin]] but
    * the filter is the kNN metric itself (centroid euclid), so the radius
    * bound and the ranking distance can never disagree. `cellSize` is
    * decoupled from `radius` so callers can floor it (large-extent
    * geometries must not explode past the st_cells guard). Outer on the
    * left: a left row without any in-radius candidate (a null geometry
    * included) still appears, with null right columns and distance, so
    * the round that ranks these pairs also sees every pending row. */
  private def candidates(left: DataFrame, right: DataFrame, leftGeom: String,
                         rightGeom: String, radius: Double, cellSize: Double,
                         distName: String): DataFrame = {
    val cs = lit(cellSize)
    val l = left.withColumn("__kcell_l", explode_outer(stf.st_cells(col(leftGeom), cs, lit(radius))))
    val r = right.withColumn("__kcell_r", explode(stf.st_cells(col(rightGeom), cs)))
    val lg = l(leftGeom); val rg = r(rightGeom)
    l.join(r,
        l("__kcell_l") === r("__kcell_r") &&
        stf.st_centroid_distance(lg, rg) <= lit(radius) &&
        stf.st_ref_cell(lg, rg, cs, l("__kcell_l"), lit(radius)), "left_outer")
      .drop("__kcell_l", "__kcell_r")
      .withColumn(distName, stf.st_centroid_distance(col(leftGeom), col(rightGeom)))
  }

  /**
   * Distributed global-k kNN join: for each left row, the k nearest right
   * rows by centroid distance. Output = left.* ++ right.* ++ distName.
   *
   * Algorithm (adaptive expand-radius, both sides arbitrarily large):
   *  1. one scalar aggregation over both sides collects bounding boxes and
   *     counts — the only data that ever reaches the driver;
   *  2. initial radius r₀ sized so a uniform-density circle holds ~2k right
   *     rows; candidates come from the cell-replicated join at cell = r;
   *  3. a left row with ≥ k candidates within r is *finished* (its true k
   *     nearest are all within r — the k-th distance is ≤ r); its top-k by
   *     (distance, tieBreak) window rank is emitted;
   *  4. unfinished left rows retry with doubled radius — the pending set
   *     shrinks geometrically; the terminal round (radius ≥ world diagonal,
   *     where every right row is a candidate) is a genuine cross join, NOT a
   *     cell join: a cell join at world radius hashes every pair into one
   *     cell (one task does the whole remaining product), while Spark's
   *     cartesian/BNLJ stays parallel across partition pairs. Rows with
   *     fewer than k neighbors in total emit what exists — matching the
   *     windowed-SQL semantics. `k >= |right|` short-circuits straight to
   *     that round: every right row is in every answer.
   *
   * Each expand round is one candidate join over only the pending rows,
   * ranked and capped by [[rankCapped]], and one `localCheckpoint`: the
   * finished rows and the next round's pending rows (one per unfinished
   * left row, its left columns) both come from that checkpoint, so no
   * round recomputes an earlier one. Because the rank filter sits directly
   * on a rank-only window, Spark keeps at most k candidates per left row
   * in each partition before the window's shuffle. Past Spark's
   * `spark.sql.optimizer.windowGroupLimitThreshold` (k > 1,000 by default)
   * the cap runs after the shuffle instead: slower, same answer.
   *
   * @param leftId  column NAME uniquely identifying a left row (window key;
   *                must not clash with a right column). Ids must be unique
   *                AND non-null: a single null-id row degrades gracefully
   *                (emitted once), but several null-id rows share one
   *                window partition and would receive a merged top-k.
   * @param tieBreak name of a right-side column ordering equal distances
   *                 deterministically (null = arbitrary tie order).
   */
  def knnJoin(left: DataFrame, right: DataFrame, leftGeom: String, rightGeom: String,
              leftId: String, k: Int, distName: String = "knn_dist",
              tieBreak: String = null): DataFrame = {
    GraftFunctions.register(left.sparkSession)
    require(k > 0, s"k must be positive, got $k")
    require(leftGeom != rightGeom,
      s"knnJoin: left and right geometry columns must have distinct names " +
      s"(both appear in the output); got '$leftGeom' on both sides")

    // COINCIDENT-QUERY COLLAPSE (the DBSCAN site-collapse pattern on the
    // query side): left rows with exactly the same geometry have exactly
    // the same k nearest right rows — the right side, the metric, and the
    // tie-break are all independent of left attributes. When duplicates
    // are material (hot venues, grid-snapped devices), run the
    // expand-radius machine once per DISTINCT geometry and expand the
    // answers back over the coincident rows with one geometry-keyed join.
    // The probe rides the SAME scalar aggregation the core needs anyway
    // (count + bbox + approx_count_distinct in one pass), so the gate
    // costs no extra Spark action in the common all-distinct case; the
    // 25% threshold is a perf heuristic, so the ~5% rsd of the approx
    // distinct count only shifts WHICH borderline inputs collapse, never
    // what any of them return.
    val (lStats, approxSites, rStats) = sideStats(left, leftGeom, right, rightGeom)
    if (lStats.n >= 4096 && approxSites * 4 < lStats.n * 3) { // > ~25% dups
      val sites = left.select(col(leftGeom)).distinct().localCheckpoint()
      val keyed = sites.withColumn("__knn_site", monotonically_increasing_id())
      // the distinct sites have the rows' bbox and span, and the core
      // reads the count only to test for emptiness
      val siteOut = knnJoinCore(keyed, right, leftGeom, rightGeom,
        "__knn_site", k, distName, tieBreak, lStats, rStats)
      // null-safe expansion: a null left geometry is its own site and
      // inherits whatever the core emits for a null row (collapsed and
      // uncollapsed paths must agree on the edge case)
      left.join(
        siteOut.drop("__knn_site").withColumnRenamed(leftGeom, "__knn_sgeo"),
        col(leftGeom) <=> col("__knn_sgeo")).drop("__knn_sgeo")
    } else
      knnJoinCore(left, right, leftGeom, rightGeom, leftId, k, distName,
        tieBreak, lStats, rStats)
  }

  /** Per-side scalars for the expand-radius machine: bbox, non-null count,
    * largest single-geometry extent (floors the cell size so huge polygons
    * stay under the st_cells guard). */
  private case class SideStats(x0: Double, x1: Double, y0: Double, y1: Double,
                               n: Long, span: Double)

  /** Both sides' [[SideStats]] plus the left side's approximate
    * distinct-geometry count for the collapse gate, in ONE Spark action:
    * the two 1-row aggregates are cross-joined and read with one `head()`. */
  private def sideStats(left: DataFrame, leftGeom: String, right: DataFrame,
                        rightGeom: String): (SideStats, Long, SideStats) = {
    def aggs(geom: String) = {
      val g = col(geom)
      Seq(min(stf.st_minx(g)), max(stf.st_maxx(g)),
        min(stf.st_miny(g)), max(stf.st_maxy(g)), count(g),
        max(greatest(stf.st_maxx(g) - stf.st_minx(g),
                     stf.st_maxy(g) - stf.st_miny(g))))
    }
    val la = aggs(leftGeom) :+ approx_count_distinct(col(leftGeom))
    val ra = aggs(rightGeom)
    val r = left.agg(la.head, la.tail: _*)
      .crossJoin(right.agg(ra.head, ra.tail: _*)).head()
    def at(i: Int) =
      if (r.isNullAt(i)) SideStats(0d, 0d, 0d, 0d, 0L, 0d)
      else SideStats(r.getDouble(i), r.getDouble(i + 1), r.getDouble(i + 2),
        r.getDouble(i + 3), r.getLong(i + 4), r.getDouble(i + 5))
    (at(0), r.getLong(6), at(7))
  }

  /** One expand round's ranking: `cands` plus `__knn_rn`, the rank of each
    * candidate within its `leftId` by (distance, nulls last; ties), kept to
    * at most k per left row, and `__knn_n`, the number of kept candidates
    * with a distance. `__knn_n >= k` exactly when the left row had k or
    * more candidates. The rank filter sits directly on a rank-only window
    * so Spark plans a partial `WindowGroupLimit` below the shuffle, and the
    * count window reuses that partitioning. Shared by [[knnJoin]] and
    * [[graft.sources.IndexStore.knnJoin]]. */
  private[graft] def rankCapped(cands: DataFrame, leftId: String, k: Int,
                                distName: String, ties: Column): DataFrame = {
    val part = Window.partitionBy(col(leftId))
    cands
      .withColumn("__knn_rn",
        row_number().over(part.orderBy(col(distName).asc_nulls_last, ties)))
      .filter(col("__knn_rn") <= k)
      .withColumn("__knn_n", count(col(distName)).over(part))
  }

  /** The expand-radius machine behind [[knnJoin]] (see its scaladoc),
    * given the scalars [[knnJoin]]'s gate already computed. */
  private def knnJoinCore(left: DataFrame, right: DataFrame, leftGeom: String,
                          rightGeom: String, leftId: String, k: Int,
                          distName: String, tieBreak: String,
                          lStats: SideStats, rStats: SideStats): DataFrame = {
    val SideStats(lx0, lx1, ly0, ly1, lCount, lSpan) = lStats
    val SideStats(rx0, rx1, ry0, ry1, rCount, rSpan) = rStats
    if (lCount == 0L || rCount == 0L)
      return candidates(left.limit(0), right.limit(0), leftGeom, rightGeom, 1.0, 1.0, distName)

    val ties = if (tieBreak == null) lit(0) else col(tieBreak)

    // terminal round: every (pending, right) pair is a candidate
    def finale(pending: DataFrame): DataFrame = {
      val cands = pending.crossJoin(right)
        .withColumn(distName, stf.st_centroid_distance(col(leftGeom), col(rightGeom)))
      cands.withColumn("__knn_rn", row_number().over(
          Window.partitionBy(col(leftId)).orderBy(col(distName), ties)))
        .filter(col("__knn_rn") <= k).drop("__knn_rn")
    }
    if (k >= rCount) return finale(left)

    // upper bound on any centroid distance: diagonal of the combined bbox
    val dx = math.max(lx1, rx1) - math.min(lx0, rx0)
    val dy = math.max(ly1, ry1) - math.min(ly0, ry0)
    val maxDist = math.max(math.sqrt(dx * dx + dy * dy), 1e-9) * 1.0000001
    // expected 2k right rows within r0 under uniform density
    val area = math.max((rx1 - rx0) * (ry1 - ry0), 1e-18)
    val r0 = math.sqrt(2.0 * k * area / (math.Pi * rCount.toDouble))
    var radius = math.min(math.max(r0, maxDist * 1e-6), maxDist)
    // an envelope expanded by radius spans (span + 2r)/cs cells per axis;
    // with cs >= max(radius, span/4000) that is < 4003, safely under 2^13
    val csFloor = math.max(lSpan, rSpan) / 4000.0

    // every round emits the same columns in the same order, so rounds
    // union by position (a left column may share its name with a right one)
    var pending = left
    var done: DataFrame = null
    var finished = false
    while (!finished) {
      if (radius >= maxDist) {
        val out = finale(pending).localCheckpoint()
        done = if (done == null) out else done.union(out)
        finished = true
      } else {
        val ranked = rankCapped(
          candidates(pending, right, leftGeom, rightGeom, radius,
            math.max(radius, csFloor), distName),
          leftId, k, distName, ties).localCheckpoint()
        val out = ranked.filter(col("__knn_n") >= k).drop("__knn_n", "__knn_rn")
        done = if (done == null) out else done.union(out)
        // one row per unfinished left row (its rank-1 row, which the outer
        // candidate join guarantees), cut to the leading left columns by
        // position: a left column may share its name with a right one
        val pos = ranked.columns.indices.map(i => s"__knn_c$i")
        pending = ranked.filter(col("__knn_n") < k && col("__knn_rn") === 1)
          .toDF(pos: _*).select(pos.take(left.columns.length).map(col): _*)
          .toDF(left.columns: _*)
        if (pending.isEmpty) finished = true
        else radius = math.min(radius * 2.0, maxDist)
      }
    }
    done
  }
}
