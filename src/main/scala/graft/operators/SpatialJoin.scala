package graft.operators

import graft.functions.{GeoOps, GraftFunctions, stf}
import graft.plans.{SpatialJoinRule, rewrittenJoin}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.locationtech.jts.index.SpatialIndex
import org.locationtech.jts.index.quadtree.Quadtree
import org.locationtech.jts.index.strtree.STRtree

import scala.jdk.CollectionConverters._

/** Join predicate enum (reference src/main/scala/dbis/stark/spatial/
  * PredicatesFunctions.scala:5-26). */
sealed abstract class JoinPredicate(val apply: (Column, Column) => Column)
object JoinPredicate {
  case object Intersects  extends JoinPredicate(stf.st_intersects)
  case object Contains    extends JoinPredicate(stf.st_contains)
  case object ContainedBy extends JoinPredicate(stf.st_containedby)
  case object Covers      extends JoinPredicate(stf.st_covers)
  case object CoveredBy   extends JoinPredicate(stf.st_coveredby)
}

/**
 * Spatio-temporal theta joins.
 *
 * The scale path is the cell-replicate equi-join: both sides explode the grid
 * cells covered by their geometry envelopes, Spark hash-joins on the cell id,
 * the exact predicate refines, and the reference-point rule (report a pair
 * only from the cell holding the lower-left corner of the envelope
 * intersection) removes duplicates without any post-join shuffle. This is the
 * declarative re-expression of the reference's grid-partitioned zipJoin +
 * distinct (reference src/main/scala/dbis/stark/spatial/SpatialJoinRDD.scala
 * and PlainSpatialRDDFunctions.scala:325-348); partition-pair pruning falls
 * out of the hash join automatically, and AQE handles skewed cells.
 *
 * [[join]] and [[distanceJoin]] write the plain predicate join and hand it
 * to [[graft.plans.SpatialJoinRule.rewriteJoin]], the one builder of the
 * cell join, so the operator and the SQL form plan the same join.
 *
 * The broadcast path (`broadcastJoin`) maps to BroadcastNestedLoopJoin —
 * right for small build sides (reference Plain:285-301).
 */
object SpatialJoin {

  /**
   * Cell-replicated spatial join.
   *
   * @param cellSize grid cell edge length in coordinate units; choose so an
   *                 average cell holds O(100-10k) rows at target scale.
   * Output: left columns ++ right columns (geometry columns included).
   */
  def join(left: DataFrame, right: DataFrame, leftCol: Column, rightCol: Column,
           pred: JoinPredicate, cellSize: Double): DataFrame =
    cellJoin(left, right, pred.apply(leftCol, rightCol), cellSize)

  /** Within-distance join: pairs with geometry distance <= maxDist. The
    * cell size is floored at `maxDist`. */
  def distanceJoin(left: DataFrame, right: DataFrame, leftCol: Column, rightCol: Column,
                   maxDist: Double, cellSize: Double): DataFrame =
    cellJoin(left, right, stf.st_within_distance(leftCol, rightCol, lit(maxDist)), cellSize)

  /** `left.join(right, cond)` as the cell join at `cellSize` (the plain
    * join where the rule declines). `cond` holds one st_* predicate between
    * the sides, plus any other conjuncts. */
  private[graft] def cellJoin(left: DataFrame, right: DataFrame, cond: Column,
                              cellSize: Double): DataFrame = {
    GraftFunctions.register(left.sparkSession)
    rewrittenJoin(left.join(right, cond))(
      SpatialJoinRule.rewriteJoin(_, cellSize, left.sparkSession))
  }

  /** Broadcast the (small) right side; Catalyst plans a
    * BroadcastNestedLoopJoin — [[graft.plans.SpatialJoinRule]] explicitly
    * leaves broadcast-hinted joins alone, so this is a genuinely different
    * plan from [[join]] (and serves as its differential oracle in tests). */
  def broadcastJoin(left: DataFrame, right: DataFrame, leftCol: Column, rightCol: Column,
                    pred: JoinPredicate): DataFrame = {
    GraftFunctions.register(left.sparkSession)
    left.join(broadcast(right), pred.apply(leftCol, rightCol))
  }

  // ---- R-tree-refined variants ----
  // The declarative joins above evaluate the exact predicate once per
  // candidate pair inside a cell / per (row, broadcast-row) pair — O(n·m)
  // JTS calls in a hot cell. These variants build an in-memory STRtree over
  // the build side and probe it, cutting the refine to O((n+m)·log m +
  // matches), the reference's per-partition live-index strategy (reference
  // spatial/SpatialJoinRDD.scala:72-131 and
  // indexed/live/LiveIndexedSpatialRDDFunctions.scala:179-240). Results are
  // differentially asserted equal to the declarative plans.

  /** External-row stobj → the InternalRow layout [[GeoOps]] evaluates. */
  private[graft] def stoRow(r: Row): InternalRow =
    if (r == null) null
    else new GenericInternalRow(Array[Any](r.getAs[Array[Byte]](0), r.get(1), r.get(2)))

  /** Live index structure per cell/broadcast side: STR-packed R-tree
    * (default; bulk-loads on first query) or a point-quadtree (reference
    * IndexConfig's RTREE / QUADTREE choices). Both may return envelope
    * false positives — the exact predicate refines either way. */
  private[graft] def mkIndex(kind: String): SpatialIndex = kind match {
    case "rtree"    => new STRtree()
    case "quadtree" => new Quadtree()
    case other => throw new IllegalArgumentException(
      s"unknown index kind '$other' (expected rtree or quadtree)")
  }

  private[graft] def opCode(pred: JoinPredicate): Int = pred match {
    case JoinPredicate.Intersects  => GeoOps.INTERSECTS
    case JoinPredicate.Contains    => GeoOps.CONTAINS
    case JoinPredicate.ContainedBy => GeoOps.CONTAINEDBY
    case JoinPredicate.Covers      => GeoOps.COVERS
    case JoinPredicate.CoveredBy   => GeoOps.COVEREDBY
  }

  /**
   * Cell-replicate join with a per-cell STRtree refine: same shuffle shape
   * as [[join]] (explode cells, hash-partition by cell id via `cogroup`),
   * but within each cell the right rows build a tree and the left rows
   * probe envelopes before any exact JTS predicate runs. Reference-point
   * dedup is applied per probe, so output equals [[join]] exactly.
   *
   * Right side of each cell is buffered to build the tree — size cells so a
   * cell's build side fits an executor (same contract the reference's
   * per-partition index build has).
   */
  def joinIndexed(left: DataFrame, right: DataFrame, leftGeom: String, rightGeom: String,
                  pred: JoinPredicate, cellSize: Double,
                  index: String = "rtree"): DataFrame = {
    GraftFunctions.register(left.sparkSession)
    // positional dropRight(1) below depends on __icell being appended, not
    // replacing an existing column of that (case-insensitive) name
    Seq(left, right).foreach(df =>
      require(!df.columns.exists(_.equalsIgnoreCase("__icell")),
        "joinIndexed: inputs must not contain a column named __icell"))
    val op = opCode(pred)
    val kind = index
    val l = left.withColumn("__icell", explode(stf.st_cells(col(leftGeom), lit(cellSize))))
    val r = right.withColumn("__icell", explode(stf.st_cells(col(rightGeom), lit(cellSize))))
    val lGeo = l.schema.fieldIndex(leftGeom); val lCell = l.schema.fieldIndex("__icell")
    val rGeo = r.schema.fieldIndex(rightGeom); val rCell = r.schema.fieldIndex("__icell")
    val outSchema = StructType(left.schema.fields ++ right.schema.fields)
    val lkv = l.groupByKey(row => row.getLong(lCell))(Encoders.scalaLong)
    val rkv = r.groupByKey(row => row.getLong(rCell))(Encoders.scalaLong)
    lkv.cogroup(rkv) { (cell, lIt, rIt) =>
      val tree = mkIndex(kind)
      var n = 0
      rIt.foreach { rr =>
        val rsto = stoRow(rr.getAs[Row](rGeo))
        if (rsto != null) {
          tree.insert(GeoOps.readGeom(rsto.getBinary(0)).getEnvelopeInternal, (rr, rsto))
          n += 1
        }
      }
      if (n == 0) Iterator.empty
      else {
        lIt.flatMap { lr =>
          val lsto = stoRow(lr.getAs[Row](lGeo))
          if (lsto == null) Iterator.empty
          else {
            val env = GeoOps.readGeom(lsto.getBinary(0)).getEnvelopeInternal
            tree.query(env).iterator().asScala.flatMap { o =>
              val (rr, rsto) = o.asInstanceOf[(Row, InternalRow)]
              if (GeoOps.relate(lsto, rsto, op) &&
                  GeoOps.refPointInCell(lsto, rsto, cellSize, cell))
                Iterator.single(Row.fromSeq(lr.toSeq.dropRight(1) ++ rr.toSeq.dropRight(1)))
              else Iterator.empty
            }
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Row cap for [[broadcastJoinIndexed]]'s driver-side collect. The
    * broadcast-with-index contract (reference Plain:303-319) assumes a
    * genuinely small right side; a large one would OOM the driver silently.
    * 4M rows keeps even wide geometry rows comfortably under typical
    * driver heaps; pass a higher cap explicitly to accept the memory cost,
    * or use [[joinIndexed]] (distributed, no driver materialization) for
    * corpus-scale right sides. */
  val BroadcastIndexBound: Long = 4000000L

  /**
   * Broadcast join with a prebuilt tree on the broadcast side — the
   * reference's `broadcastJoinWithIndex`. The right side ships to every
   * task once; each task builds the STRtree lazily on first use and probes
   * left rows against it instead of scanning all broadcast rows.
   *
   * The right side is collected to the driver, so it must be small; the
   * `maxBroadcastRows` gate fails loudly (one cheap count job) instead of
   * letting an oversized side OOM the driver mid-collect.
   */
  def broadcastJoinIndexed(left: DataFrame, right: DataFrame, leftGeom: String,
                           rightGeom: String, pred: JoinPredicate,
                           index: String = "rtree",
                           maxBroadcastRows: Long = BroadcastIndexBound): DataFrame = {
    GraftFunctions.register(left.sparkSession)
    val op = opCode(pred)
    val kind = index
    val lGeo = left.schema.fieldIndex(leftGeom)
    val rGeo = right.schema.fieldIndex(rightGeom)
    val outSchema = StructType(left.schema.fields ++ right.schema.fields)
    val rightRows = right.count()
    require(rightRows <= maxBroadcastRows,
      s"broadcastJoinIndexed collects the whole right side to the driver; " +
      s"right has $rightRows rows > cap $maxBroadcastRows. For large right " +
      "sides use SpatialJoin.joinIndexed (distributed per-cell trees, no " +
      "driver materialization) instead, or raise maxBroadcastRows " +
      "explicitly to accept the driver-memory cost.")
    val bc = left.sparkSession.sparkContext.broadcast(right.collect())
    left.mapPartitions { it =>
      lazy val tree = {
        val t = mkIndex(kind)
        bc.value.foreach { rr =>
          val rsto = stoRow(rr.getAs[Row](rGeo))
          if (rsto != null)
            t.insert(GeoOps.readGeom(rsto.getBinary(0)).getEnvelopeInternal, (rr, rsto))
        }
        t
      }
      it.flatMap { lr =>
        val lsto = stoRow(lr.getAs[Row](lGeo))
        if (lsto == null) Iterator.empty
        else {
          val env = GeoOps.readGeom(lsto.getBinary(0)).getEnvelopeInternal
          tree.query(env).iterator().asScala.flatMap { o =>
            val (rr, rsto) = o.asInstanceOf[(Row, InternalRow)]
            if (GeoOps.relate(lsto, rsto, op))
              Iterator.single(Row.fromSeq(lr.toSeq ++ rr.toSeq))
            else Iterator.empty
          }
        }
      }
    }(Encoders.row(outSchema))
  }
}
