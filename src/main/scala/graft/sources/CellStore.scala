package graft.sources

import graft.functions.GeoOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.locationtech.jts.geom.Envelope

import scala.jdk.CollectionConverters._

/**
 * Spatially-partitioned storage — the reference's `saveAsStarkTextFile` /
 * `STSparkContext.textFile(path, query)` pair (reference
 * PlainSpatialRDDFunctions.scala:34-87 writes a `partition_info` metadata
 * file; STSparkContext.scala:658-713 prunes part-files against it at load).
 *
 * Spark-native equivalent: write parquet partitioned by a grid-cell
 * directory key. The directory layout *is* the partition metadata —
 * Catalyst partition pruning skips non-matching cell directories at
 * planning time (visible as `PartitionFilters` in `.explain`), and parquet
 * min/max column stats subsume the reference's per-partition bounds for
 * everything else.
 */
object CellStore {

  /** Save with a grid-cell directory key derived from (x, y) columns.
    * `cells` stay coarse: one directory per cell, Hive-style layout.
    *
    * When the key columns are plain attributes, a `_graft_cells` sidecar
    * records the layout (cell size + column names), enabling
    * [[graft.plans.CellPruneRule]]'s declarative partition pruning: a later
    * `load(...).filter(st_intersects(st_point(x, y), lit))` prunes cell
    * directories with no explicit range filter. Pass `geomCol` naming a
    * stored geometry column that IS the point (xCol, yCol) — e.g. the
    * `c_geo = st_point(cx, cy)` convention — to extend that pruning to
    * predicates written directly against the geometry column.
    *
    * Pass `tCol` (an epoch-micros instant attribute) plus `timeBucket` to
    * add a third directory level `part_tb = floor(t / timeBucket)` — the
    * reference's SpatioTempPartitioner (spatial grid × time bucket,
    * reference src/main/scala/dbis/stark/spatial/partitioner/
    * SpatioTempPartitioner.scala) as a storage layout. A query constant
    * carrying a time component then prunes time directories too
    * (declaratively, via the same rule). Contract when BOTH `geomCol` and
    * `tCol` are given: the geometry column's temporal component is exactly
    * the instant in `tCol` (e.g. `e_geo = st_with_instant(st_point(x,y), et)`).
    */
  def save(df: DataFrame, path: String, xCol: Column, yCol: Column,
           cellSize: Double, geomCol: Option[String] = None,
           tCol: Option[Column] = None, timeBucket: Long = 0L): Unit = {
    val (keyed, partCols) = cellKeyed(df, xCol, yCol, cellSize, tCol, timeBucket)
    geomCol.foreach(g => require(df.columns.exists(_.equalsIgnoreCase(g)),
      s"CellStore.save: geomCol '$g' is not a column of the input"))
    // co-locate each cell before the write: one file per cell directory
    // instead of (tasks × cells) small files — essential at scale
    keyed.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(path)
    // sidecar AFTER the write (overwrite mode clears the directory first)
    writeSidecar(df, path, xCol, yCol, cellSize, geomCol, tCol, timeBucket)
  }

  /** The (keyed frame, partition column names) both the batch save and the
    * streaming ingest write — ONE derivation so the layouts can never
    * drift. */
  private[graft] def cellKeyed(df: DataFrame, xCol: Column, yCol: Column,
                               cellSize: Double, tCol: Option[Column],
                               timeBucket: Long): (DataFrame, Seq[String]) = {
    require(!df.columns.exists(c =>
      c.equalsIgnoreCase("part_cx") || c.equalsIgnoreCase("part_cy") ||
      c.equalsIgnoreCase("part_tb")),
      "CellStore: input must not contain columns named part_cx/part_cy/part_tb")
    require(tCol.isEmpty == (timeBucket <= 0L),
      "CellStore: tCol and a positive timeBucket must be given together")
    // SATURATE to the int range instead of letting cast("int") wrap: the
    // prune side (CellPruneRule.cellLit, loadIntersecting) clamps its
    // bounds, so a wrapped (negative) directory key for an extreme
    // coordinate would sit outside every clamped bound and its rows would
    // be silently pruned. With saturation both sides agree on where
    // out-of-range cells land.
    def cellKey(c: Column): Column =
      greatest(least(floor(c / cellSize), lit(Int.MaxValue.toLong)),
        lit(Int.MinValue.toLong)).cast("int")
    val keyed0 = df
      .withColumn("part_cx", cellKey(xCol))
      .withColumn("part_cy", cellKey(yCol))
    val keyed = tCol.fold(keyed0)(t =>
      keyed0.withColumn("part_tb", floor(t / timeBucket).cast("long")))
    (keyed, Seq("part_cx", "part_cy") ++ tCol.map(_ => "part_tb"))
  }

  /** Record the layout for [[graft.plans.CellPruneRule]] (no-op when a key
    * column is a computed expression — explicit loads still work; only the
    * declarative rule needs the names). */
  private[graft] def writeSidecar(df: DataFrame, path: String, xCol: Column,
                                  yCol: Column, cellSize: Double,
                                  geomCol: Option[String], tCol: Option[Column],
                                  timeBucket: Long): Unit = {
    for (xn <- attrName(df, xCol); yn <- attrName(df, yCol)) {
      val tn = tCol.flatMap(attrName(df, _))
      Sidecar.writeText(df.sparkSession, s"$path/_graft_cells",
        s"cellSize=$cellSize\nx=$xn\ny=$yn\ngeom=${geomCol.getOrElse("")}" +
          tn.map(n => s"\nt=$n\ntimeBucket=$timeBucket").getOrElse(""))
    }
    // UNCONDITIONALLY: a rebuild may change params, and a rebuild whose key
    // is a computed expression writes NO sidecar (overwrite already deleted
    // the old one) — a conditional clear would leave the rule pruning the
    // new layout with the old store's cached metadata
    graft.plans.CellPruneRule.clearMetaCache()
  }

  /** The attribute name behind a key column, when it is one — computed key
    * expressions get no sidecar (explicit [[loadIntersecting]] still works;
    * only the declarative rule needs the name). Resolution through a
    * `select` (analysis only, no job): a plain attribute keeps its own
    * name; a computed expression's generated name matches no input column. */
  private def attrName(df: DataFrame, c: Column): Option[String] = {
    val resolved = df.select(c).schema.head.name
    if (df.columns.exists(_.equalsIgnoreCase(resolved))) Some(resolved) else None
  }

  /** Plain load (partition columns restored from the directory layout). */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Load only the cells whose extent intersects the query envelope —
   * load-time spatial pruning. The predicate is on partition directory
   * columns only, so Catalyst prunes at file-listing time; no data files
   * outside the envelope are opened.
   */
  def loadIntersecting(spark: SparkSession, path: String, queryWkt: String,
                       cellSize: Double): DataFrame = {
    val env: Envelope = GeoOps.parseWkt(queryWkt).getEnvelopeInternal
    val cx0 = math.floor(env.getMinX / cellSize).toInt
    val cx1 = math.floor(env.getMaxX / cellSize).toInt
    val cy0 = math.floor(env.getMinY / cellSize).toInt
    val cy1 = math.floor(env.getMaxY / cellSize).toInt
    load(spark, path).filter(
      col("part_cx") >= cx0 && col("part_cx") <= cx1 &&
      col("part_cy") >= cy0 && col("part_cy") <= cy1)
  }

  /**
   * Temporal layout: range-partition by the epoch column and sort within
   * files, so parquet row-group min/max stats line up with time — a
   * time-range load pushes its predicate into the scan (`PushedFilters` in
   * `.explain`) and skips non-matching row groups. This is the reference's
   * TemporalRangePartitioner + partition_info pruning, re-expressed as
   * ordinary columnar statistics (SURVEY §4 "free if t_start/t_end are
   * columns").
   */
  def saveTemporal(df: DataFrame, path: String, tCol: Column,
                   numPartitions: Int): Unit =
    df.repartitionByRange(numPartitions, tCol)
      .sortWithinPartitions(tCol)
      .write.mode("overwrite").parquet(path)

  /** Time-range load over a [[saveTemporal]] layout; the range predicate
    * reaches the parquet reader as a pushed filter. */
  def loadTimeRange(spark: SparkSession, path: String, tColName: String,
                    t0: Long, t1: Long): DataFrame =
    load(spark, path).filter(col(tColName) >= t0 && col(tColName) <= t1)

  /**
   * kNN pushed into the loader (reference `STSparkContext.knn`,
   * STSparkContext.scala:63-184): read only the cell directories around the
   * query point, expanding ring by ring until (a) k candidates exist and
   * (b) the k-th candidate distance is covered by the loaded ring — the
   * expand-box-retry semantics, with Catalyst partition pruning doing the
   * I/O skipping. Each ring adds one cell-width of guaranteed coverage, so
   * the loop terminates with the exact global kNN.
   *
   * @return the k nearest stored rows with a `knn_dist` column, nearest
   *         first, as a local DataFrame (each ring's ≤ k candidates are
   *         collected once)
   */
  def knn(spark: SparkSession, path: String, xColName: String, yColName: String,
          qx: Double, qy: Double, k: Int, cellSize: Double,
          maxRings: Int = 64): DataFrame = {
    val cx = math.floor(qx / cellSize).toInt
    val cy = math.floor(qy / cellSize).toInt
    // null coordinates land in the default partition and have no distance —
    // exclude them up front (they would otherwise sort NULLS FIRST)
    val base = load(spark, path)
      .filter(col(xColName).isNotNull && col(yColName).isNotNull)
    val dist = sqrt((col(xColName) - qx) * (col(xColName) - qx) +
                    (col(yColName) - qy) * (col(yColName) - qy))

    // store extent in cell coordinates: stop expanding once the ring box
    // covers every existing cell. This aggregate scans the store's
    // partition-column values (a real job, not a metadata lookup), so it
    // is LAZY — the common case (first ring already conclusive,
    // short-circuiting the || below) never pays it
    lazy val ext = load(spark, path)
      .agg(min(col("part_cx")), max(col("part_cx")),
           min(col("part_cy")), max(col("part_cy"))).collect()(0)
    val coversAll = (r: Int) =>
      !ext.isNullAt(0) &&
      cx - r <= ext.getInt(0) && cx + r >= ext.getInt(1) &&
      cy - r <= ext.getInt(2) && cy + r >= ext.getInt(3)

    // one job per ring: the ring's ≤ k candidates are collected once, the
    // row count and k-th distance are read off them, and the conclusive
    // ring's rows are served as a local frame (same schema and order)
    val ranked = base.withColumn("knn_dist", dist)
    val distIdx = ranked.schema.fieldIndex("knn_dist")
    var ring = 0
    var result: Array[Row] = null
    while (result == null && ring <= maxRings) {
      val cand = ranked.filter(
          col("part_cx") >= cx - ring && col("part_cx") <= cx + ring &&
          col("part_cy") >= cy - ring && col("part_cy") <= cy + ring)
        .orderBy(col("knn_dist")).limit(k).collect()
      val kth =
        if (cand.isEmpty) Double.MaxValue else cand.map(_.getDouble(distIdx)).max
      // distance to the *inner edge* of the first unloaded ring: anything
      // outside the loaded box is at least this far from the query point
      val coverage = ring * cellSize +
        math.min(math.min(qx - cx * cellSize, (cx + 1) * cellSize - qx),
                 math.min(qy - cy * cellSize, (cy + 1) * cellSize - qy))
      if ((cand.length >= k && kth <= coverage) || coversAll(ring)) result = cand
      else ring += 1
    }
    if (result == null) result = ranked.orderBy(col("knn_dist")).limit(k).collect()
    spark.createDataFrame(result.toSeq.asJava, ranked.schema)
  }
}
