package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, ExpressionInfo, Literal, MakeDate, Multiply, Subtract, UnixDate}
import org.apache.spark.sql.types.{BooleanType, DateType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/**
 * Function registration + Column-facing API.
 *
 * Every function is registered in the session's FunctionRegistry (so it is
 * usable from `spark.sql(...)` — reference parity with
 * src/main/scala/dbis/stark/sql/Functions.scala:16-48) and the `stf` wrappers
 * below resolve through `call_function`, which keeps this library on public,
 * stable Spark API only.
 */
object GraftFunctions {

  import GeoOps._

  // SQL literals arrive as Decimal/Integer; coerce scalar args explicitly
  // (redundant casts are folded away by SimplifyCasts).
  private def d(e: Expression): Expression = Cast(e, DoubleType)
  private def l(e: Expression): Expression = Cast(e, LongType)
  private def s(e: Expression): Expression = Cast(e, StringType)
  private def i(e: Expression): Expression = Cast(e, IntegerType)
  private def b(e: Expression): Expression = Cast(e, BooleanType)

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_geomfromwkt"  -> ((es: Seq[Expression]) => STGeomFromWKT(s(es.head))),
    "st_point"        -> ((es: Seq[Expression]) =>
      if (es.size == 2) STPoint(d(es(0)), d(es(1)))
      else STPointZ(d(es(0)), d(es(1)), d(es(2)))),
    "st_z"            -> ((es: Seq[Expression]) => STZ(es.head)),
    "st_box"          -> ((es: Seq[Expression]) => STMakeBox(d(es(0)), d(es(1)), d(es(2)), d(es(3)))),
    "st_with_time"    -> ((es: Seq[Expression]) => STWithTime(es(0), l(es(1)), l(es(2)))),
    "st_with_instant" -> ((es: Seq[Expression]) => STWithInstant(es(0), l(es(1)))),
    "st_with_open_interval" -> ((es: Seq[Expression]) => STWithOpenInterval(es(0), l(es(1)))),
    // reference st_sto overloads (MakeSTObject, sql/spatial/, verified by
    // its SqlFilterTest): wkt alone; wkt + instant — an epoch LONG or a
    // DATE (midnight UTC, epoch SECONDS — Instant(1581811200) for
    // 2020-02-16); wkt + (year, month, day) ints or strings, same seconds
    "st_sto"          -> ((es: Seq[Expression]) => {
      def dateSeconds(e: Expression): Expression =
        Multiply(Cast(UnixDate(e), LongType), Literal(86400L))
      es.size match {
        case 1 => STGeomFromWKT(s(es.head))
        case 2 =>
          val t = if (es(1).resolved && es(1).dataType == DateType)
            dateSeconds(es(1)) else l(es(1))
          STWithInstant(STGeomFromWKT(s(es(0))), t)
        case 4 => STWithInstant(STGeomFromWKT(s(es(0))),
          dateSeconds(MakeDate(i(es(1)), i(es(2)), i(es(3)))))
        // valid arities are {1, 2, 4} — not expressible as the registry's
        // (min,max) range, so the 3-arg form gets the same structured
        // WRONG_NUM_ARGS error the range check would have produced
        case _ => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> "st_sto",
            "expectedNum" -> "1, 2, or 4",
            "actualNum" -> es.size.toString,
            "docroot" -> ""))
      }
    }),
    "st_intersects"   -> ((es: Seq[Expression]) => STRelate(es(0), es(1), INTERSECTS)),
    "st_contains"     -> ((es: Seq[Expression]) => STRelate(es(0), es(1), CONTAINS)),
    "st_containedby"  -> ((es: Seq[Expression]) => STRelate(es(0), es(1), CONTAINEDBY)),
    "st_covers"       -> ((es: Seq[Expression]) => STRelate(es(0), es(1), COVERS)),
    "st_coveredby"    -> ((es: Seq[Expression]) => STRelate(es(0), es(1), COVEREDBY)),
    "st_distance"     -> ((es: Seq[Expression]) => STDistance(es(0), es(1))),
    "st_max_distance" -> ((es: Seq[Expression]) => STMaxDistance(es(0), es(1))),
    "st_hausdorff"    -> ((es: Seq[Expression]) => STHausdorff(es(0), es(1))),
    "st_t_distance"   -> ((es: Seq[Expression]) => STTemporalDistance(es(0), es(1))),
    "st_thausdorff"   -> ((es: Seq[Expression]) => STTemporalHausdorff(es(0), es(1))),
    "st_st_distance"  -> ((es: Seq[Expression]) => STWeightedDistance(es(0), es(1), d(es(2)), d(es(3)))),
    "st_centroid_distance" -> ((es: Seq[Expression]) => STCentroidDistance(es(0), es(1))),
    "st_within_distance" -> ((es: Seq[Expression]) => STWithinDistance(es(0), es(1), d(es(2)))),
    "st_wkt"          -> ((es: Seq[Expression]) => STAsWKT(es.head)),
    "st_x"            -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "stX")),
    "st_y"            -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "stY")),
    "st_area"         -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "area")),
    "st_minx"         -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "minX")),
    "st_maxx"         -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "maxX")),
    "st_miny"         -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "minY")),
    "st_maxy"         -> ((es: Seq[Expression]) => STDoubleAccessor(es.head, "maxY")),
    "st_tstart"       -> ((es: Seq[Expression]) => STTemporalAccessor(es.head, end = false)),
    "st_tend"         -> ((es: Seq[Expression]) => STTemporalAccessor(es.head, end = true)),
    "st_tcenter"      -> ((es: Seq[Expression]) => STTemporalStat(es.head, center = true)),
    "st_tlength"      -> ((es: Seq[Expression]) => STTemporalStat(es.head, center = false)),
    "st_before"       -> ((es: Seq[Expression]) => STTemporalOrder(es(0), es(1), after = false)),
    "st_after"        -> ((es: Seq[Expression]) => STTemporalOrder(es(0), es(1), after = true)),
    "st_cell"         -> ((es: Seq[Expression]) => STCellId(es(0), d(es(1)))),
    "st_cells"        -> ((es: Seq[Expression]) =>
      STCells(es(0), d(es(1)), if (es.size > 2) d(es(2)) else Literal(0d))),
    "st_ref_cell"     -> ((es: Seq[Expression]) =>
      STRefCell(if (es.size == 5) Seq(es(0), es(1), d(es(2)), l(es(3)), d(es(4)))
                else Seq(es(0), es(1), d(es(2)), l(es(3)), Literal(0d)))),
    // tile bounding box as an stobj (reference st_geomfromtile,
    // sql/raster/RasterFunction.scala) — open-struct args instead of a UDT
    "st_geomfromtile" -> ((es: Seq[Expression]) => {
      val ulx = d(es(0)); val uly = d(es(1))
      val w = d(es(2)); val h = d(es(3)); val pw = d(es(4))
      STMakeBox(ulx, Subtract(uly, Multiply(h, pw)), Add(ulx, Multiply(w, pw)), uly)
    }),
    "st_raster_pixels" -> ((es: Seq[Expression]) => STRasterPixels(Seq(
      es(0), d(es(1)), d(es(2)), d(es(3)), d(es(4)), i(es(5)), i(es(6)), b(es(7)), i(es(8))))),
    "st_mercator"     -> ((es: Seq[Expression]) => STMercator(es(0), i(es(1)), i(es(2)))),
    "st_clip_tile"    -> ((es: Seq[Expression]) => STClipTile(Seq(
      d(es(0)), d(es(1)), i(es(2)), i(es(3)), d(es(4)), es(5), es(6), b(es(7)), l(es(8))))),
    "st_tile_value"   -> ((es: Seq[Expression]) => STTileValue(Seq(
      d(es(0)), d(es(1)), i(es(2)), i(es(3)), d(es(4)), es(5), d(es(6)), d(es(7))))),
    // text/vector dedup primitives (TextExpressions.scala)
    "minhash_sig"     -> ((es: Seq[Expression]) => MinHashSig(es(0), i(es(1)))),
    "band_buckets"    -> ((es: Seq[Expression]) => BandBuckets(es(0), i(es(1)))),
    "simhash64"       -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "hamming"         -> ((es: Seq[Expression]) => HammingDistance(l(es(0)), l(es(1)))),
    "hyperplane_buckets" -> ((es: Seq[Expression]) => HyperplaneBuckets(es(0), i(es(1)), i(es(2)))),
    "vec_dot"         -> ((es: Seq[Expression]) => VecDot(es(0), es(1))),
    "vec_norm"        -> ((es: Seq[Expression]) => VecNorm(es.head)),
    "vec_dist2"       -> ((es: Seq[Expression]) => VecDist2(es(0), es(1))),
    "word_shingles"   -> ((es: Seq[Expression]) => WordShingles(s(es(0)), i(es(1)))),
    "rolling_min_fp"  -> ((es: Seq[Expression]) => RollingMinFp(s(es.head))),
    "nfc_normalize"   -> ((es: Seq[Expression]) => NfcNormalize(s(es.head))),
    "repetition_stats" -> ((es: Seq[Expression]) => RepetitionStats(s(es.head))),
    "sorted_intersect_count" -> ((es: Seq[Expression]) => SortedIntersectCount(es(0), es(1)))
  )

  /** Arity of each function (min, max) for a named error instead of a raw
    * IndexOutOfBounds when SQL passes the wrong argument count. */
  private val arity: Map[String, (Int, Int)] = Map(
    "st_geomfromwkt" -> (1, 1), "st_point" -> (2, 3), "st_z" -> (1, 1),
    "st_box" -> (4, 4),
    "st_with_time" -> (3, 3), "st_with_instant" -> (2, 2),
    "st_with_open_interval" -> (2, 2), "st_sto" -> (1, 4), "st_intersects" -> (2, 2),
    "st_contains" -> (2, 2), "st_containedby" -> (2, 2), "st_covers" -> (2, 2),
    "st_coveredby" -> (2, 2), "st_distance" -> (2, 2),
    "st_max_distance" -> (2, 2), "st_hausdorff" -> (2, 2),
    "st_t_distance" -> (2, 2), "st_thausdorff" -> (2, 2), "st_st_distance" -> (4, 4),
    "st_centroid_distance" -> (2, 2), "st_within_distance" -> (3, 3),
    "st_wkt" -> (1, 1), "st_x" -> (1, 1), "st_y" -> (1, 1), "st_area" -> (1, 1),
    "st_minx" -> (1, 1), "st_maxx" -> (1, 1), "st_miny" -> (1, 1),
    "st_maxy" -> (1, 1), "st_tstart" -> (1, 1), "st_tend" -> (1, 1),
    "st_tcenter" -> (1, 1), "st_tlength" -> (1, 1),
    "st_before" -> (2, 2), "st_after" -> (2, 2),
    "st_cell" -> (2, 2), "st_cells" -> (2, 3), "st_ref_cell" -> (4, 5),
    "st_clip_tile" -> (9, 9), "st_geomfromtile" -> (5, 5),
    "st_tile_value" -> (8, 8),
    "st_raster_pixels" -> (9, 9), "st_mercator" -> (3, 3),
    "minhash_sig" -> (2, 2), "band_buckets" -> (2, 2), "simhash64" -> (1, 1),
    "hamming" -> (2, 2), "hyperplane_buckets" -> (3, 3), "vec_dot" -> (2, 2),
    "vec_norm" -> (1, 1), "vec_dist2" -> (2, 2), "word_shingles" -> (2, 2), "rolling_min_fp" -> (1, 1),
    "nfc_normalize" -> (1, 1), "repetition_stats" -> (1, 1),
    "sorted_intersect_count" -> (2, 2))

  private def checked(name: String, builder: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { es =>
    val (lo, hi) = arity.getOrElse(name, (0, Int.MaxValue))
    if (es.size < lo || es.size > hi)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> (if (lo == hi) lo.toString else s"$lo to $hi"),
          "actualNum" -> es.size.toString,
          "docroot" -> ""))
    builder(es)
  }

  /** Idempotently register all st_* functions in the given session, and
    * activate graft's four rewrite rules (SQL joins on bare st_*
    * predicates plan as cell hash joins instead of BNLJ, and so on). A
    * rule the session's optimizer already runs — injected through
    * [[graft.GraftExtensions]], or added by an earlier call — is not
    * added again: each extra copy would run it in one more batch. */
  def register(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, checked(name, builder), "scala_udf")
    }
    val missing = Seq(graft.plans.SpatialJoinRule, graft.plans.RangeJoinRule,
      graft.plans.AsOfJoinRule, graft.plans.CellPruneRule)
      .filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty) {
      val held = spark.sessionState.optimizer.batches.flatMap(_.rules).toSet
      spark.experimental.extraOptimizations ++= missing.filterNot(held)
    }
  }

  /** For `spark.sql.extensions=graft.GraftExtensions`. */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        checked(name, builder)))
    }
}

/**
 * Column-level DSL: `stf.st_point(col("x"), col("y"))` etc. Requires
 * [[GraftFunctions.register]] (done automatically by graft operator entry
 * points and by [[graft.GraftExtensions]]).
 */
object stf {
  def st_geomfromwkt(wkt: Column): Column = call_function("st_geomfromwkt", wkt)
  def st_geomfromwkt(wkt: String): Column = st_geomfromwkt(lit(wkt))
  def st_point(x: Column, y: Column): Column = call_function("st_point", x, y)
  def st_point(x: Column, y: Column, z: Column): Column = call_function("st_point", x, y, z)
  def st_z(a: Column): Column = call_function("st_z", a)
  def st_box(minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    call_function("st_box", minx, miny, maxx, maxy)
  def st_with_time(sto: Column, s: Column, e: Column): Column = call_function("st_with_time", sto, s, e)
  def st_with_instant(sto: Column, t: Column): Column = call_function("st_with_instant", sto, t)
  def st_with_open_interval(sto: Column, s: Column): Column = call_function("st_with_open_interval", sto, s)
  def st_intersects(a: Column, b: Column): Column = call_function("st_intersects", a, b)
  def st_contains(a: Column, b: Column): Column = call_function("st_contains", a, b)
  def st_containedby(a: Column, b: Column): Column = call_function("st_containedby", a, b)
  def st_covers(a: Column, b: Column): Column = call_function("st_covers", a, b)
  def st_coveredby(a: Column, b: Column): Column = call_function("st_coveredby", a, b)
  def st_distance(a: Column, b: Column): Column = call_function("st_distance", a, b)
  def st_max_distance(a: Column, b: Column): Column = call_function("st_max_distance", a, b)

  /** The reference's `IntervalDistance(min,max)` between extended objects
    * (reference src/main/scala/dbis/stark/Distance.scala:27-80) as a
    * `struct<min:double, max:double>` column: min = JTS minimum distance,
    * max = exact vertex-pair maximum. A point pair collapses to the scalar
    * case (min == max). Compare with the `idist_*` helpers below, which
    * carry the reference's interval-ordering semantics. */
  def st_distance_interval(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.struct(
      st_distance(a, b).as("min"), st_max_distance(a, b).as("max"))

  /** ScalarDistance embedded as a degenerate interval (reference
    * Distance.scala:91-100: `ScalarDistance(v) = IntervalDistance(v,v)`). */
  def st_scalar_interval(v: Column): Column =
    org.apache.spark.sql.functions.struct(v.as("min"), v.as("max"))

  // Interval-distance ordering, exactly the reference's comparison table
  // (Distance.scala:41-80): `<` is certainly-closer (a.max < b.min), `>` is
  // certainly-farther (a.min > b.max); `<=`/`>=` compare max/min bounds
  // respectively and `==` requires both bounds equal. On scalar (collapsed)
  // intervals all five reduce to ordinary double comparisons.
  def idist_lt(a: Column, b: Column): Column = a.getField("max") < b.getField("min")
  def idist_le(a: Column, b: Column): Column = a.getField("max") <= b.getField("max")
  def idist_gt(a: Column, b: Column): Column = a.getField("min") > b.getField("max")
  def idist_ge(a: Column, b: Column): Column = a.getField("min") >= b.getField("min")
  def idist_eq(a: Column, b: Column): Column =
    a.getField("min") === b.getField("min") && a.getField("max") === b.getField("max")

  def st_hausdorff(a: Column, b: Column): Column = call_function("st_hausdorff", a, b)
  def st_t_distance(a: Column, b: Column): Column = call_function("st_t_distance", a, b)
  def st_thausdorff(a: Column, b: Column): Column = call_function("st_thausdorff", a, b)
  def st_st_distance(a: Column, b: Column, ws: Column, wt: Column): Column =
    call_function("st_st_distance", a, b, ws, wt)
  def st_centroid_distance(a: Column, b: Column): Column = call_function("st_centroid_distance", a, b)
  def st_within_distance(a: Column, b: Column, d: Column): Column = call_function("st_within_distance", a, b, d)
  def st_wkt(a: Column): Column = call_function("st_wkt", a)
  def st_x(a: Column): Column = call_function("st_x", a)
  def st_y(a: Column): Column = call_function("st_y", a)
  def st_area(a: Column): Column = call_function("st_area", a)
  def st_minx(a: Column): Column = call_function("st_minx", a)
  def st_maxx(a: Column): Column = call_function("st_maxx", a)
  def st_miny(a: Column): Column = call_function("st_miny", a)
  def st_maxy(a: Column): Column = call_function("st_maxy", a)
  def st_tstart(a: Column): Column = call_function("st_tstart", a)
  def st_tend(a: Column): Column = call_function("st_tend", a)
  def st_tcenter(a: Column): Column = call_function("st_tcenter", a)
  def st_tlength(a: Column): Column = call_function("st_tlength", a)
  def st_before(a: Column, b: Column): Column = call_function("st_before", a, b)
  def st_after(a: Column, b: Column): Column = call_function("st_after", a, b)
  def st_cell(a: Column, cellSize: Column): Column = call_function("st_cell", a, cellSize)
  def st_cells(a: Column, cellSize: Column): Column = call_function("st_cells", a, cellSize)
  def st_cells(a: Column, cellSize: Column, radius: Column): Column = call_function("st_cells", a, cellSize, radius)
  def st_ref_cell(a: Column, b: Column, cellSize: Column, cell: Column): Column =
    call_function("st_ref_cell", a, b, cellSize, cell)
  def st_ref_cell(a: Column, b: Column, cellSize: Column, cell: Column, radius: Column): Column =
    call_function("st_ref_cell", a, b, cellSize, cell, radius)
  def st_geomfromtile(ulx: Column, uly: Column, width: Column, height: Column,
                      pixelWidth: Column): Column =
    call_function("st_geomfromtile", ulx, uly, width, height, pixelWidth)
  def st_raster_pixels(sto: Column, x0: Column, y0: Column, x1: Column, y1: Column,
                       w: Column, h: Column, fill: Column, pointSize: Column): Column =
    call_function("st_raster_pixels", sto, x0, y0, x1, y1, w, h, fill, pointSize)
  def st_mercator(sto: Column, w: Column, h: Column): Column =
    call_function("st_mercator", sto, w, h)
  def st_clip_tile(ulx: Column, uly: Column, width: Column, height: Column,
                   pixelWidth: Column, data: Column, qry: Column,
                   isIntersects: Column, default: Column): Column =
    call_function("st_clip_tile", ulx, uly, width, height, pixelWidth, data, qry,
      isIntersects, default)
  def st_tile_value(ulx: Column, uly: Column, width: Column, height: Column,
                    pixelWidth: Column, data: Column, x: Column, y: Column): Column =
    call_function("st_tile_value", ulx, uly, width, height, pixelWidth, data, x, y)
  def minhash_sig(shingles: Column, k: Int): Column = call_function("minhash_sig", shingles, lit(k))
  def band_buckets(sig: Column, nBands: Int): Column = call_function("band_buckets", sig, lit(nBands))
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def hamming(a: Column, b: Column): Column = call_function("hamming", a, b)
  def hyperplane_buckets(vec: Column, tables: Int, planes: Int): Column =
    call_function("hyperplane_buckets", vec, lit(tables), lit(planes))
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vec_norm(a: Column): Column = call_function("vec_norm", a)
  def vec_dist2(a: Column, b: Column): Column = call_function("vec_dist2", a, b)
  def word_shingles(text: Column, n: Int): Column = call_function("word_shingles", text, lit(n))
  def rolling_min_fp(text: Column): Column = call_function("rolling_min_fp", text)
  def nfc_normalize(text: Column): Column = call_function("nfc_normalize", text)
  def repetition_stats(text: Column): Column = call_function("repetition_stats", text)
  def sorted_intersect_count(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}
