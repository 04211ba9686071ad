package graft.sources

import graft.functions.{GeoOps, GraftFunctions, stf}
import graft.operators.{JoinPredicate, KNN, SpatialJoin}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.locationtech.jts.index.strtree.STRtree

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.jdk.CollectionConverters._

/**
 * Persisted spatial indexes — the reference's `index()` + `saveAsObjectFile`
 * / `STSparkContext.loadIndexed` pair (reference
 * spatial/indexed/persistent/PersistedIndexedSpatialRDDFunctions.scala:18-19,
 * 335-349 and STSparkContext.scala:307-377): build one R-tree per partition
 * once, serialize it, and answer later filters/joins by probing the stored
 * trees with NO index rebuild at query time.
 *
 * Spark-native shape: one STR-packed R-tree per grid cell, java-serialized
 * into a `(cell LONG, tree BINARY)` parquet table under `<path>/trees`,
 * range-partitioned and sorted by cell id so a query's cell-id set reaches
 * the parquet reader as a pushed `IN` filter (row-group pruning replaces
 * the reference's reconstructed partitioner). Rows whose envelope spans
 * several cells are replicated into each cell's tree; the reference-point
 * rule dedups at query time — the same contract as
 * [[graft.operators.SpatialJoin.joinIndexed]], so results are exactly the
 * declarative join's.
 *
 * The payload row rides inside the tree entry (the reference stores
 * `Data(data, geom)` leaves the same way, indexed/Data.scala). The row
 * schema and the grid cell size travel in underscore-prefixed text
 * sidecars (ignored by the parquet reader); queries read the cell size
 * back from the store, so a probe can never use a different grid than the
 * build did. A top-level `_SUCCESS` marker is written LAST — an
 * interrupted save leaves no marker and write-once wrappers redo it.
 */
object IndexStore {

  /** Tree leaf: the full data row plus its pre-split stobj parts. */
  private case class Entry(row: Row, wkb: Array[Byte],
                           ts: java.lang.Long, te: java.lang.Long) {
    def sto: GenericInternalRow = new GenericInternalRow(Array[Any](wkb, ts, te))
  }

  private def serialize(tree: java.io.Serializable): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(tree)
    oos.close()
    bos.toByteArray
  }

  // every reader goes through the SpatialIndex interface (query(Envelope)),
  // so R-tree and quadtree stores share all query paths unchanged
  private def deserialize(bytes: Array[Byte]): org.locationtech.jts.index.SpatialIndex = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(bytes))
    try ois.readObject().asInstanceOf[org.locationtech.jts.index.SpatialIndex]
    finally ois.close()
  }

  private val treeSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("tree", BinaryType, nullable = false)))

  private def writeText(spark: SparkSession, path: String, value: String): Unit =
    Sidecar.writeText(spark, path, value)

  private def readText(spark: SparkSession, path: String): String =
    Sidecar.readText(spark, path)


  /** Above this many query cells an IN literal list stops being a sane
    * Catalyst expression — fall back to a broadcast semi-join on cell id. */
  private val InListLimit = 1024

  private def prunedTrees(spark: SparkSession, path: String,
                          cells: Array[Long]): DataFrame = {
    val trees = spark.read.parquet(path + "/trees")
    if (cells.length <= InListLimit)
      trees.filter(col("cell").isin(cells.map(Long.box).toIndexedSeq: _*))
    else {
      import spark.implicits._
      trees.join(broadcast(cells.toSeq.toDF("cell")), "cell")
    }
  }

  /**
   * Build per-cell spatial indexes over `df` and persist them. Size
   * `cellSize` so a cell's rows fit one executor — each tree is built and
   * serialized inside a single task (the same contract the reference's
   * per-partition `index()` has). The cell size is recorded in the store;
   * queries reuse it automatically.
   *
   * `index` picks the structure — "rtree" (STR-packed, built at save so
   * queries never build) or "quadtree" — the reference's persistable
   * IndexConfig choices (indexed/IndexConfig.scala:11-15; RTreeConfig /
   * QuadTreeConfig). Both serialize through the same (cell, tree) layout
   * and answer every query path via the common SpatialIndex probe, so
   * stores of either kind are interchangeable at read time (the kind is
   * recorded in a sidecar for introspection).
   */
  def saveIndexed(df: DataFrame, path: String, geomCol: String,
                  cellSize: Double, index: String = "rtree"): Unit = {
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    require(!df.columns.exists(_.equalsIgnoreCase("__icell")),
      "saveIndexed: input must not contain a column named __icell")
    GraftFunctions.register(df.sparkSession)
    // invalidate an existing marker FIRST: a rebuild that crashes between
    // the trees write and the sidecar writes must not leave an old
    // _SUCCESS claiming the mixed-layout store is complete
    Sidecar.invalidateMarker(df.sparkSession, path)
    val geoIdx = df.schema.fieldIndex(geomCol)
    SpatialJoin.mkIndex(index) // validate the kind eagerly, on the driver
    val kind = index
    val withCell = df.withColumn("__icell",
      explode(stf.st_cells(col(geomCol), lit(cellSize))))
    val cellIdx = withCell.schema.fieldIndex("__icell")
    val trees = withCell
      .groupByKey(_.getLong(cellIdx))(Encoders.scalaLong)
      .mapGroups { (cell, it) =>
        val tree = SpatialJoin.mkIndex(kind)
        it.foreach { r =>
          val sto = r.getAs[Row](geoIdx)
          if (sto != null) {
            val wkb = sto.getAs[Array[Byte]](0)
            val ts = sto.get(1).asInstanceOf[java.lang.Long]
            val te = sto.get(2).asInstanceOf[java.lang.Long]
            tree.insert(GeoOps.readGeom(wkb).getEnvelopeInternal,
              Entry(Row.fromSeq(r.toSeq.dropRight(1)), wkb, ts, te))
          }
        }
        tree match { // STR packs NOW — queries against the store never build
          case t: STRtree => t.build()
          case _ => // quadtree builds incrementally on insert
        }
        Row(cell, serialize(tree.asInstanceOf[java.io.Serializable]))
      }(Encoders.row(treeSchema))
    trees.repartitionByRange(col("cell")).sortWithinPartitions(col("cell"))
      .write.mode("overwrite").parquet(path + "/trees")
    val spark = df.sparkSession
    writeText(spark, path + "/_graft_schema", df.schema.json)
    writeText(spark, path + "/_graft_meta", cellSize.toString)
    writeText(spark, path + "/_graft_index", kind)
    // build-time entry stats (bbox, count, max extent): queries need these
    // scalars (kNN termination, kNN-join radius schedule) and recomputing
    // them means deserializing every tree — pay the one agg pass NOW so
    // the train-once/query-many contract holds
    val g = col(geomCol)
    val s = df.agg(min(stf.st_minx(g)), max(stf.st_maxx(g)),
      min(stf.st_miny(g)), max(stf.st_maxy(g)), count(g),
      max(greatest(stf.st_maxx(g) - stf.st_minx(g),
        stf.st_maxy(g) - stf.st_miny(g)))).head()
    val statsTxt =
      if (s.isNullAt(0)) "0 0 0 0 0 0"
      else s"${s.getDouble(0)} ${s.getDouble(1)} ${s.getDouble(2)} " +
           s"${s.getDouble(3)} ${s.getLong(4)} ${s.getDouble(5)}"
    writeText(spark, path + "/_graft_stats", statsTxt)
    Sidecar.markComplete(spark, path)
  }

  /** Entry stats recorded at build time: (minX, maxX, minY, maxY, count,
    * max single-geometry extent). Stores written before the sidecar
    * existed fall back to one distributed scan of the tree entries. */
  private def loadStats(spark: SparkSession, path: String,
                        rowSchema: StructType, cellSize: Double)
      : (Double, Double, Double, Double, Long, Double) = {
    val txt =
      if (Sidecar.exists(spark, path + "/_graft_stats"))
        readText(spark, path + "/_graft_stats")
      else {
        val entries = entryRowsPlus(spark, path, rowSchema, cellSize)
        val rsto = struct(col("__rwkb"), col("__rts"), col("__rte"))
        val s = entries.agg(min(stf.st_minx(rsto)), max(stf.st_maxx(rsto)),
          min(stf.st_miny(rsto)), max(stf.st_maxy(rsto)), count(lit(1)),
          max(greatest(stf.st_maxx(rsto) - stf.st_minx(rsto),
            stf.st_maxy(rsto) - stf.st_miny(rsto)))).head()
        if (s.isNullAt(0)) "0 0 0 0 0 0"
        else s"${s.getDouble(0)} ${s.getDouble(1)} ${s.getDouble(2)} " +
             s"${s.getDouble(3)} ${s.getLong(4)} ${s.getDouble(5)}"
      }
    val p = txt.trim.split(" ")
    (p(0).toDouble, p(1).toDouble, p(2).toDouble, p(3).toDouble,
      p(4).toLong, p(5).toDouble)
  }

  /** The stored row schema (from the sidecar). */
  def loadSchema(spark: SparkSession, path: String): StructType =
    DataType.fromJson(readText(spark, path + "/_graft_schema"))
      .asInstanceOf[StructType]

  /** The grid cell size the store was built with. */
  def loadCellSize(spark: SparkSession, path: String): Double =
    readText(spark, path + "/_graft_meta").toDouble

  /** The index structure the store was built with ("rtree" / "quadtree");
    * stores from before the sidecar existed are R-tree by construction. */
  def loadIndexKind(spark: SparkSession, path: String): String =
    if (Sidecar.exists(spark, path + "/_graft_index"))
      readText(spark, path + "/_graft_index")
    else "rtree"

  /**
   * Predicate filter answered from the persisted trees: only the cells
   * intersecting the query envelope are read (pushed `IN` filter on the
   * sorted cell column), each tree probes the envelope, the exact
   * spatio-temporal predicate refines, and the reference-point rule keeps
   * exactly one report per replicated row. `query` is the right-hand
   * operand: a row qualifies iff `pred(row_geom, query)` holds.
   */
  def filter(spark: SparkSession, path: String, queryWkt: String,
             pred: JoinPredicate): DataFrame =
    filter(spark, path, queryWkt, pred, null, null)

  /**
   * Spatio-temporal variant: the query carries an instant (`qTs == qTe`),
   * a closed interval, or an open-ended one (`qTe == null` with `qTs`
   * set) — the §2.2 gate applies exactly as in the live filter (both sides
   * timed → temporal relation must hold; presence mismatch → no match).
   */
  def filter(spark: SparkSession, path: String, queryWkt: String,
             pred: JoinPredicate,
             qTs: java.lang.Long, qTe: java.lang.Long): DataFrame = {
    val rowSchema = loadSchema(spark, path)
    val cellSize = loadCellSize(spark, path)
    val q = GeoOps.parseWkt(queryWkt)
    val qWkb = GeoOps.writeGeom(q)
    val qEnv = q.getEnvelopeInternal
    val cells = GeoOps.cellsOfEnvelope(qEnv, cellSize)
    val op = SpatialJoin.opCode(pred)
    prunedTrees(spark, path, cells)
      .flatMap { tr =>
        val cell = tr.getLong(0)
        val tree = deserialize(tr.getAs[Array[Byte]](1))
        val qSto = new GenericInternalRow(Array[Any](qWkb, qTs, qTe))
        tree.query(qEnv).iterator().asScala.flatMap { o =>
          val e = o.asInstanceOf[Entry]
          if (GeoOps.relate(e.sto, qSto, op) &&
              GeoOps.refPointInCell(e.sto, qSto, cellSize, cell))
            Iterator.single(e.row)
          else Iterator.empty
        }
      }(Encoders.row(rowSchema))
  }

  /**
   * kNN answered from the persisted trees — the reference's indexed kNN
   * over persisted indexes (Persistent kNN,
   * PersistedIndexedSpatialRDDFunctions.scala:137-214): expand-box-retry
   * over the stored grid. Each round reads ONLY the candidate cells' trees
   * (pushed `IN` filter on the sorted cell column), probes them with the
   * box envelope, refines by exact centroid distance, and dedups replicas
   * by each entry's own reference cell. The round is conclusive when the
   * k-th distance is within the probed box radius (anything unread has its
   * whole envelope — hence its centroid — outside the box, so it is
   * farther); a full-coverage check terminates degenerate cases (fewer
   * than k rows in the store).
   *
   * `tieBreak` columns make the k-boundary deterministic under equal
   * distances (same contract as the live kNN).
   *
   * @return the k nearest stored rows with a `knn_dist` column
   */
  def knn(spark: SparkSession, path: String, qx: Double, qy: Double, k: Int,
          tieBreak: Seq[String] = Nil, maxRounds: Int = 64): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rowSchema = loadSchema(spark, path)
    val cellSize = loadCellSize(spark, path)
    val outSchema = StructType(rowSchema.fields :+
      StructField("knn_dist", DoubleType, nullable = false))
    val (sx0, sx1, sy0, sy1, sCount, _) = loadStats(spark, path, rowSchema, cellSize)
    if (sCount == 0L)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)

    def candidates(r: Double): DataFrame = {
      val qEnv = new org.locationtech.jts.geom.Envelope(qx - r, qx + r, qy - r, qy + r)
      val cells = GeoOps.cellsOfEnvelope(qEnv, cellSize)
      prunedTrees(spark, path, cells).flatMap { tr =>
        val cell = tr.getLong(0)
        val tree = deserialize(tr.getAs[Array[Byte]](1))
        tree.query(qEnv).iterator().asScala.flatMap { o =>
          val e = o.asInstanceOf[Entry]
          val g = GeoOps.readGeom(e.wkb)
          val env = g.getEnvelopeInternal
          // dedup replicas by the INTERSECTION reference point (lower-left
          // corner of env ∩ probe box — always inside a READ cell), same
          // rule as filter(). The entry's own home cell would be wrong
          // here: an extended geometry matching the box can have its home
          // cell outside it, and would then be reported from NO read tree.
          val rx = math.max(env.getMinX, qEnv.getMinX)
          val ry = math.max(env.getMinY, qEnv.getMinY)
          if (GeoOps.pack(math.floor(rx / cellSize).toInt,
                          math.floor(ry / cellSize).toInt) == cell) {
            val c = g.getCentroid
            val dx = c.getX - qx; val dy = c.getY - qy
            // same float form as the live st_distance (centroid euclid)
            val d = math.sqrt(dx * dx + dy * dy)
            Iterator.single(Row.fromSeq(e.row.toSeq :+ d))
          } else Iterator.empty
        }
      }(Encoders.row(outSchema))
        .orderBy((col("knn_dist") +: tieBreak.map(col)): _*).limit(k)
    }

    // one job per round: the round's ≤ k candidates are collected once,
    // the row count and k-th distance are read off them, and the
    // conclusive round's rows are served as a local frame (same schema
    // and order)
    val distIdx = rowSchema.length
    var r = cellSize
    var round = 0
    var result: Array[Row] = null
    while (result == null && round <= maxRounds) {
      val cand = candidates(r).collect()
      val kth =
        if (cand.isEmpty) Double.MaxValue else cand.map(_.getDouble(distIdx)).max
      // conclusive when the box COVERS the store's whole bbox: every entry
      // is then a candidate. ("All trees were read" is NOT coverage — the
      // box still filters entries inside each read tree.)
      val qEnv = new org.locationtech.jts.geom.Envelope(qx - r, qx + r, qy - r, qy + r)
      val covered = qEnv.covers(new org.locationtech.jts.geom.Envelope(sx0, sx1, sy0, sy1))
      if ((cand.length >= k && kth <= r) || covered) result = cand
      else { r *= 2; round += 1 }
    }
    if (result == null) result = candidates(r).collect()
    spark.createDataFrame(result.toSeq.asJava, outSchema)
  }

  /**
   * Join a live left side against the persisted right-side trees — the
   * reference's persisted-index join (Persistent `join`,
   * PersistedIndexedSpatialRDDFunctions.scala:93-131). The left explodes
   * its cells (using the store's recorded cell size) and hash-partitions
   * by cell id; the matching serialized trees shuffle once to meet them
   * (no per-query index build). Output columns: left ++ stored row
   * columns; equals [[graft.operators.SpatialJoin.join]] exactly.
   */
  /** All distinct stored rows plus their pre-split stobj parts
    * (`__rwkb`/`__rts`/`__rte` appended) — each replicated tree entry is
    * reported from its own reference cell only, so rows come out exactly
    * once. Used by [[knnJoin]]'s stats pass and terminal round. */
  private def entryRowsPlus(spark: SparkSession, path: String,
                            rowSchema: StructType, cellSize: Double): DataFrame = {
    val outSchema = StructType(rowSchema.fields ++ Seq(
      StructField("__rwkb", BinaryType, nullable = false),
      StructField("__rts", LongType, nullable = true),
      StructField("__rte", LongType, nullable = true)))
    val world = new org.locationtech.jts.geom.Envelope(
      -Double.MaxValue, Double.MaxValue, -Double.MaxValue, Double.MaxValue)
    spark.read.parquet(path + "/trees").flatMap { tr =>
      val cell = tr.getLong(0)
      val tree = deserialize(tr.getAs[Array[Byte]](1))
      tree.query(world).iterator().asScala.flatMap { o =>
        val e = o.asInstanceOf[Entry]
        val env = GeoOps.readGeom(e.wkb).getEnvelopeInternal
        if (GeoOps.pack(math.floor(env.getMinX / cellSize).toInt,
                        math.floor(env.getMinY / cellSize).toInt) == cell)
          Iterator.single(Row.fromSeq(e.row.toSeq ++ Seq[Any](e.wkb, e.ts, e.te)))
        else Iterator.empty
      }
    }(Encoders.row(outSchema))
  }

  /**
   * kNN JOIN answered from the persisted trees — the reference's indexed
   * kNN join shape (`knnJoin(other: RDD[Index[V2]], k, distFunc)`,
   * spatial/SpatialKnnJoinRDD.scala:20-84) with the live operator's true
   * global-k semantics (the reference's per-right-partition k is a
   * documented bug [[graft.operators.KNN.knnJoin]] does not copy).
   *
   * Same adaptive expand-radius rounds as the live operator, but the right
   * side is the store: each round cogroups the pending left rows' candidate
   * cells with the stored trees, probes each tree with the radius-expanded
   * envelope, refines by exact centroid distance, and dedups replicas by
   * the pair's reference cell — the right side is never re-shuffled or
   * re-indexed across queries (train-once / query-many). Right-side stats
   * (bbox, count, max extent) come from one distributed scan of the tree
   * entries; only those scalars reach the driver. When the radius would
   * explode the left side past the cell-explosion guard (the store's cell
   * size is fixed), the terminal cross-join round runs instead — parallel
   * across partition pairs, never a single hash cell.
   *
   * Output: left.* ++ stored row columns ++ `distName`.
   */
  def knnJoin(left: DataFrame, path: String, leftGeom: String, leftId: String,
              k: Int, distName: String = "knn_dist",
              tieBreak: String = null): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(!left.columns.exists(_.equalsIgnoreCase("__icell")),
      "IndexStore.knnJoin: left must not contain a column named __icell")
    require(!left.columns.exists(_.equalsIgnoreCase("__knn_done_id")),
      "IndexStore.knnJoin: left must not contain a column named __knn_done_id")
    // leftId contract matches KNN.knnJoin: unique AND non-null ids (several
    // null-id rows would share one window partition and a merged top-k)
    val spark = left.sparkSession
    GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val rowSchema = loadSchema(spark, path)
    val cellSize = loadCellSize(spark, path)
    // any overlap between left columns and the stored row columns (not just
    // the geometry) would emit duplicate output columns and make the
    // col(leftId) window key ambiguous at analysis time with a confusing
    // error — reject the whole intersection loudly up front, same contract
    // style as the __icell/__knn_done_id guards above. Case-insensitive to
    // match Spark's default resolution ('ID' vs stored 'id' is ambiguous too)
    val collisions = left.columns.filter(c =>
      rowSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(collisions.isEmpty,
      s"IndexStore.knnJoin: left columns ${collisions.mkString("[", ", ", "]")} " +
      "also exist in the store schema — rename one side before joining")
    // distName joins the output alongside both sides' columns — a
    // collision would silently clobber (finale's withColumn) or be
    // ambiguous (round path); reject loudly like the guards above
    require(!(left.columns ++ rowSchema.fieldNames)
        .exists(_.equalsIgnoreCase(distName)),
      s"IndexStore.knnJoin: distName '$distName' collides with an " +
      "input/store column — pass a different distName")
    val ties = if (tieBreak == null) lit(0) else col(tieBreak)
    val roundSchema = StructType(left.schema.fields ++ rowSchema.fields :+
      StructField(distName, DoubleType, nullable = false))

    // rows with NULL geometry have no distance to anything: the round path
    // would drop them (st_cells of null explodes to nothing) while the
    // terminal cross join would keep them and emit k arbitrary null-dist
    // pairs — exclude them up front so both paths agree
    val leftNN = left.filter(col(leftGeom).isNotNull)

    // store-side stats come from the build-time sidecar (train-once /
    // query-many: no per-query scan); the entry set is only materialized
    // for the terminal round
    val entries = entryRowsPlus(spark, path, rowSchema, cellSize)
    val rsto = struct(col("__rwkb"), col("__rts"), col("__rte"))
    val (rx0s, rx1s, ry0s, ry1s, rCount, rSpanS) =
      loadStats(spark, path, rowSchema, cellSize)
    def lStats = {
      val g = col(leftGeom)
      leftNN.agg(min(stf.st_minx(g)), max(stf.st_maxx(g)),
        min(stf.st_miny(g)), max(stf.st_maxy(g)), count(g),
        max(greatest(stf.st_maxx(g) - stf.st_minx(g), stf.st_maxy(g) - stf.st_miny(g)))).head()
    }
    val lRow = lStats
    val lCount = if (lRow.isNullAt(0)) 0L else lRow.getLong(4)
    if (lCount == 0L || rCount == 0L)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], roundSchema)

    // terminal round: every (pending, stored) pair is a candidate;
    // cartesian stays parallel across partition pairs (a cell join at
    // world radius would hash everything into one cell)
    def finale(pending: DataFrame): DataFrame = {
      val cands = pending.crossJoin(entries)
        .withColumn(distName, stf.st_centroid_distance(col(leftGeom), rsto))
      cands.withColumn("__knn_rn", row_number().over(
          Window.partitionBy(col(leftId)).orderBy(col(distName), ties)))
        .filter(col("__knn_rn") <= k)
        .drop("__knn_rn", "__rwkb", "__rts", "__rte")
    }
    if (k >= rCount) return finale(leftNN)

    val (lx0, lx1, ly0, ly1, lSpan) =
      (lRow.getDouble(0), lRow.getDouble(1), lRow.getDouble(2), lRow.getDouble(3), lRow.getDouble(5))
    val (rx0, rx1, ry0, ry1, rSpan) = (rx0s, rx1s, ry0s, ry1s, rSpanS)
    val dx = math.max(lx1, rx1) - math.min(lx0, rx0)
    val dy = math.max(ly1, ry1) - math.min(ly0, ry0)
    val maxDist = math.max(math.sqrt(dx * dx + dy * dy), 1e-9) * 1.0000001
    val area = math.max((rx1 - rx0) * (ry1 - ry0), 1e-18)
    val r0 = math.sqrt(2.0 * k * area / (math.Pi * rCount.toDouble))
    var radius = math.min(math.max(r0, maxDist * 1e-6), maxDist)
    // the store's cell size is fixed — if a radius would explode a left
    // envelope past the st_cells guard, fall through to the cross join
    val radiusGuard = (3500.0 * cellSize - math.max(lSpan, rSpan)) / 2.0

    // prune the tree scan to the pending rows' candidate-cell envelope:
    // rounds over a localized pending set read only their cells' trees
    // via the pushed IN filter instead of shuffling the whole store.
    // Round 1 reuses the already-computed left bbox; later rounds re-agg
    // over the (shrunken, checkpointed) pending set.
    def pendingBbox(pending: DataFrame): Option[(Double, Double, Double, Double)] = {
      val g = col(leftGeom)
      val bb = pending.agg(min(stf.st_minx(g)), max(stf.st_maxx(g)),
        min(stf.st_miny(g)), max(stf.st_maxy(g))).head()
      if (bb.isNullAt(0)) None
      else Some((bb.getDouble(0), bb.getDouble(1), bb.getDouble(2), bb.getDouble(3)))
    }
    def roundCandidates(pending: DataFrame, r: Double,
                        bbox: Option[(Double, Double, Double, Double)]): DataFrame = {
      val l = pending.withColumn("__icell",
        explode(stf.st_cells(col(leftGeom), lit(cellSize), lit(r))))
      val lGeo = l.schema.fieldIndex(leftGeom)
      val lCell = l.schema.fieldIndex("__icell")
      val lkv = l.groupByKey(_.getLong(lCell))(Encoders.scalaLong)
      val treesDf = bbox match {
        case None => spark.read.parquet(path + "/trees").limit(0)
        case Some((x0, x1, y0, y1)) =>
          val env = new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1)
          env.expandBy(r)
          // double arithmetic: a huge bbox over a fine grid must fall
          // through to the full scan, not overflow a long product
          val nx = env.getWidth / cellSize + 2
          val ny = env.getHeight / cellSize + 2
          if (nx * ny <= 4096.0)
            prunedTrees(spark, path, GeoOps.cellsOfEnvelope(env, cellSize))
          else spark.read.parquet(path + "/trees")
      }
      val tkv = treesDf.groupByKey(_.getLong(0))(Encoders.scalaLong)
      lkv.cogroup(tkv) { (cell, lIt, tIt) =>
        if (!tIt.hasNext || !lIt.hasNext) Iterator.empty
        else {
          val tree = deserialize(tIt.next().getAs[Array[Byte]](1))
          lIt.flatMap { lr =>
            val lsto = SpatialJoin.stoRow(lr.getAs[Row](lGeo))
            if (lsto == null) Iterator.empty
            else {
              val env = new org.locationtech.jts.geom.Envelope(
                GeoOps.readGeom(lsto.getBinary(0)).getEnvelopeInternal)
              env.expandBy(r)
              tree.query(env).iterator().asScala.flatMap { o =>
                val e = o.asInstanceOf[Entry]
                val d = GeoOps.centroidDistance(lsto, e.sto)
                if (d <= r && GeoOps.refPointInCellDist(lsto, e.sto, r, cellSize, cell))
                  Iterator.single(Row.fromSeq(lr.toSeq.dropRight(1) ++ e.row.toSeq :+ d))
                else Iterator.empty
              }
            }
          }
        }
      }(Encoders.row(roundSchema))
    }

    var pending = leftNN
    var bbox: Option[(Double, Double, Double, Double)] = Some((lx0, lx1, ly0, ly1))
    var firstRound = true
    var done: DataFrame = null
    var finished = false
    while (!finished) {
      if (radius >= maxDist || radius > radiusGuard) {
        val out = finale(pending).localCheckpoint()
        done = if (done == null) out else done.unionByName(out)
        finished = true
      } else {
        if (!firstRound) bbox = pendingBbox(pending)
        firstRound = false
        val ranked = KNN.rankCapped(roundCandidates(pending, radius, bbox),
          leftId, k, distName, ties).localCheckpoint()
        val settled = ranked.filter(col("__knn_n") >= k)
        val out = settled.drop("__knn_n", "__knn_rn")
        done = if (done == null) out else done.unionByName(out)
        // null-safe removal: a null leftId (contract violation, but must
        // not loop) would never match a plain equi-anti-join and be
        // re-emitted every round. The cogroup emits nothing for a left row
        // without candidates, so the pending set stays an anti-join.
        val doneIds = settled.filter(col("__knn_rn") === 1)
          .select(col(leftId).as("__knn_done_id"))
        pending = pending
          .join(doneIds, col(leftId) <=> col("__knn_done_id"), "left_anti")
          .localCheckpoint()
        if (pending.isEmpty) finished = true
        else radius = math.min(radius * 2.0, maxDist)
      }
    }
    done
  }

  def join(left: DataFrame, path: String, leftGeom: String,
           pred: JoinPredicate): DataFrame = {
    require(!left.columns.exists(_.equalsIgnoreCase("__icell")),
      "IndexStore.join: left must not contain a column named __icell")
    val spark = left.sparkSession
    GraftFunctions.register(spark)
    val rowSchema = loadSchema(spark, path)
    val cellSize = loadCellSize(spark, path)
    val outSchema = StructType(left.schema.fields ++ rowSchema.fields)
    val op = SpatialJoin.opCode(pred)
    val l = left.withColumn("__icell",
      explode(stf.st_cells(col(leftGeom), lit(cellSize))))
    val lGeo = l.schema.fieldIndex(leftGeom)
    val lCell = l.schema.fieldIndex("__icell")
    val lkv = l.groupByKey(_.getLong(lCell))(Encoders.scalaLong)
    val tkv = spark.read.parquet(path + "/trees")
      .groupByKey(_.getLong(0))(Encoders.scalaLong)
    lkv.cogroup(tkv) { (cell, lIt, tIt) =>
      // gate on BOTH sides before deserializing: cogroup visits every
      // store cell, and a join touching 10 cells must not deserialize a
      // million untouched trees
      if (!tIt.hasNext || !lIt.hasNext) Iterator.empty
      else {
        val tree = deserialize(tIt.next().getAs[Array[Byte]](1))
        lIt.flatMap { lr =>
          val lsto = SpatialJoin.stoRow(lr.getAs[Row](lGeo))
          if (lsto == null) Iterator.empty
          else {
            val env = GeoOps.readGeom(lsto.getBinary(0)).getEnvelopeInternal
            tree.query(env).iterator().asScala.flatMap { o =>
              val e = o.asInstanceOf[Entry]
              if (GeoOps.relate(lsto, e.sto, op) &&
                  GeoOps.refPointInCell(lsto, e.sto, cellSize, cell))
                Iterator.single(Row.fromSeq(lr.toSeq.dropRight(1) ++ e.row.toSeq))
              else Iterator.empty
            }
          }
        }
      }
    }(Encoders.row(outSchema))
  }
}
