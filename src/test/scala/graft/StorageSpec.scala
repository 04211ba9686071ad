package graft

import graft.operators.Partitioners
import graft.sources.CellStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage pruning + partitioner post-conditions. */
class StorageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cell-partitioned store prunes directories at load time") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_spec"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.001")
    CellStore.save(pts, path, col("cx"), col("cy"), 100.0)

    val all = CellStore.load(spark, path)
    val pruned = CellStore.loadIntersecting(spark, path,
      "POLYGON ((150 150, 350 150, 350 350, 150 350, 150 150))", 100.0)

    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    }
    // the query envelope covers cells cx in [1,3] x cy in [1,3] => 9 of 100
    val allFiles = scannedFiles(all)
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles < allFiles,
      s"expected partition pruning: $prunedFiles vs $allFiles files")
    assert(prunedFiles <= allFiles / 4, s"weak pruning: $prunedFiles of $allFiles")

    // and correctness: pruned+refined == full-scan filter
    val full = pts.filter(col("cx") >= 150 && col("cx") <= 350 &&
      col("cy") >= 150 && col("cy") <= 350).count()
    val viaStore = pruned.filter(col("cx") >= 150 && col("cx") <= 350 &&
      col("cy") >= 150 && col("cy") <= 350).count()
    assert(viaStore == full)
  }

  test("declarative spatial filter prunes cell directories via CellPruneRule") {
    import graft.functions.stf
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_rule"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.001")
    CellStore.save(pts, path, col("cx"), col("cy"), 100.0, geomCol = Some("c_geo"))

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    }
    val qry = "POLYGON ((150 150, 350 150, 350 350, 150 350, 150 150))"
    val total = scannedFiles(CellStore.load(spark, path))

    // 1. predicate on the declared geometry column — no explicit ranges
    val viaGeom = graft.operators.SpatialOps.containedBy(
      CellStore.load(spark, path), col("c_geo"), stf.st_geomfromwkt(qry))
    assert(scannedFiles(viaGeom) <= total / 4,
      s"geom-column predicate not pruned: ${scannedFiles(viaGeom)} of $total")

    // 2. predicate on the point built from the declared key columns
    val viaPoint = CellStore.load(spark, path).filter(stf.st_intersects(
      stf.st_point(col("cx"), col("cy")), stf.st_geomfromwkt(qry)))
    assert(scannedFiles(viaPoint) <= total / 4,
      s"key-point predicate not pruned: ${scannedFiles(viaPoint)} of $total")

    // 3. within-distance expands the envelope by the radius, stays exact
    val viaDist = graft.operators.SpatialOps.withinDistance(
      CellStore.load(spark, path), col("c_geo"),
      stf.st_geomfromwkt("POINT (250 250)"), 75.0)
    assert(scannedFiles(viaDist) <= total / 4)

    // correctness: each pruned result equals the same filter over the raw
    // (unpartitioned) frame
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val rawGeom = ids(graft.operators.SpatialOps.containedBy(
      pts, col("c_geo"), stf.st_geomfromwkt(qry)))
    assert(ids(viaGeom) == rawGeom && rawGeom.nonEmpty)
    assert(ids(viaPoint) == ids(pts.filter(stf.st_intersects(
      stf.st_point(col("cx"), col("cy")), stf.st_geomfromwkt(qry)))))
    assert(ids(viaDist) == ids(graft.operators.SpatialOps.withinDistance(
      pts, col("c_geo"), stf.st_geomfromwkt("POINT (250 250)"), 75.0)))

    // 4. a predicate over a DIFFERENT point (swapped axes) must not prune —
    // and must stay correct (the rule matches declared key columns only)
    val swapped = CellStore.load(spark, path).filter(stf.st_intersects(
      stf.st_point(col("cy"), col("cx")), stf.st_geomfromwkt(qry)))
    assert(ids(swapped) == ids(pts.filter(stf.st_intersects(
      stf.st_point(col("cy"), col("cx")), stf.st_geomfromwkt(qry)))))
    assert(scannedFiles(swapped) == total, "swapped-axes predicate wrongly pruned")
  }

  test("CellPruneRule is sound on a union of differently-gridded stores") {
    // two stores of the SAME rows under DIFFERENT cell sizes, unioned
    // (Spark rejects a single multi-path read of separately-rooted
    // partitioned stores, so union-of-loads is the supported composition):
    // the rule must resolve each relation's OWN metadata — pruning one
    // side with the other's grid would silently drop rows
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_multipath"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.001")
    CellStore.save(pts, s"$base/a", col("cx"), col("cy"), 100.0)
    CellStore.save(pts, s"$base/b", col("cx"), col("cy"), 250.0)
    val cols = Seq("c_custkey", "cx", "cy", "c_geo").map(col)
    val union = CellStore.load(spark, s"$base/a").select(cols: _*)
      .union(CellStore.load(spark, s"$base/b").select(cols: _*))
    val qry = graft.functions.stf.st_geomfromwkt(
      "POLYGON ((150 150, 350 150, 350 350, 150 350, 150 150))")
    val got = graft.operators.SpatialOps.intersects(union, col("c_geo"), qry)
      .groupBy(col("c_custkey")).count()
    val want = graft.operators.SpatialOps.intersects(pts, col("c_geo"), qry)
    assert(got.count() == want.count(), "union read lost or gained ids")
    // every matching id appears exactly twice (once per store)
    assert(got.filter(col("count") =!= 2).count() == 0)
  }

  test("rebuilding a store with a computed key clears stale prune metadata") {
    // save with plain columns (sidecar written), then rebuild the SAME
    // path with a computed key (no sidecar possible) — queries after the
    // rebuild must not prune with the first layout's cached metadata
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rebuild"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.001")
    CellStore.save(pts, path, col("cx"), col("cy"), 100.0)
    CellStore.load(spark, path).filter(
      graft.functions.stf.st_intersects(col("c_geo"),
        graft.functions.stf.st_geomfromwkt("POLYGON ((150 150, 350 150, 350 350, 150 350, 150 150))"))).count()
    // rebuild under a SHIFTED computed grid: old metadata would misprune
    CellStore.save(pts, path, col("cx") + lit(500.0), col("cy"), 100.0)
    val qry = graft.functions.stf.st_geomfromwkt(
      "POLYGON ((150 150, 350 150, 350 350, 150 350, 150 150))")
    val after = CellStore.load(spark, path).filter(
      graft.functions.stf.st_intersects(col("c_geo"), qry)).count()
    val want = graft.operators.SpatialOps.intersects(pts, col("c_geo"), qry).count()
    assert(after == want, "stale sidecar cache pruned the rebuilt layout")
  }

  test("spatio-temporal store prunes cell AND time-bucket directories declaratively") {
    import graft.functions.stf
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_st_rule"
    val day = 86400000000L
    val evs = Tables.eventPts(spark, "/root/testdata/sf0.001")
      .withColumn("et", expr("ts div 1000"))
    CellStore.save(evs, path, col("ex"), col("ey"), 100.0,
      geomCol = Some("e_geo"), tCol = Some(col("et")), timeBucket = day)

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("event_id")).collect().map(_.getLong(0)).toSet

    val total = scannedFiles(CellStore.load(spark, path))
    val box = "POLYGON ((100.5 100.5, 400.5 100.5, 400.5 400.5, 100.5 400.5, 100.5 100.5))"
    // 3 days of a 30-day table: Jan 10 .. Jan 13 2024 (off-boundary by 500 µs)
    val lo = 1704844800000500L
    val hi = 1705104000000500L

    // 1. time-carrying constant on the declared geometry column prunes BOTH
    // dimensions: strictly fewer files than the same box with no time
    val stQ = graft.operators.SpatialOps.intersects(
      CellStore.load(spark, path), col("e_geo"),
      stf.st_with_time(stf.st_geomfromwkt(box), lit(lo), lit(hi)))
    val spatialOnlyFiles = {
      // same envelope, no temporal component — the spatial baseline. The
      // constant has no time while every stored row has an instant, so the
      // RESULT is empty by the mixed-presence rule; only its scan width
      // (cell pruning without time pruning) is of interest here.
      val df = graft.operators.SpatialOps.intersects(
        CellStore.load(spark, path), col("e_geo"), stf.st_geomfromwkt(box))
      scannedFiles(df)
    }
    val stFiles = scannedFiles(stQ)
    assert(stFiles < spatialOnlyFiles,
      s"no temporal pruning: $stFiles vs spatial-only $spatialOnlyFiles of $total")
    assert(stFiles <= total / 4, s"weak spatio-temporal pruning: $stFiles of $total")

    // 2. correctness vs the raw (unpartitioned) frame
    val raw = ids(graft.operators.SpatialOps.intersects(evs, col("e_geo"),
      stf.st_with_time(stf.st_geomfromwkt(box), lit(lo), lit(hi))))
    assert(ids(stQ) == raw && raw.nonEmpty, s"pruned result diverged (${raw.size} raw rows)")

    // 3. explicit st_with_instant over the declared columns prunes too
    val viaCtor = CellStore.load(spark, path).filter(stf.st_intersects(
      stf.st_with_instant(stf.st_point(col("ex"), col("ey")), col("et")),
      stf.st_with_time(stf.st_geomfromwkt(box), lit(lo), lit(hi))))
    assert(scannedFiles(viaCtor) <= total / 4)
    assert(ids(viaCtor) == raw)

    // 4. an instant built from a DIFFERENT column must not time-prune — and
    // must stay correct (rows whose event_id-derived instant happens to
    // fall in the window)
    val wrongT = CellStore.load(spark, path).filter(stf.st_intersects(
      stf.st_with_instant(stf.st_point(col("ex"), col("ey")), col("event_id")),
      stf.st_with_time(stf.st_geomfromwkt(box), lit(lo), lit(hi))))
    assert(ids(wrongT) == ids(evs.filter(stf.st_intersects(
      stf.st_with_instant(stf.st_point(col("ex"), col("ey")), col("event_id")),
      stf.st_with_time(stf.st_geomfromwkt(box), lit(lo), lit(hi))))))

    // 5. right-open query interval: lower time bound only, still correct
    val openQ = graft.operators.SpatialOps.intersects(
      CellStore.load(spark, path), col("e_geo"),
      stf.st_with_open_interval(stf.st_geomfromwkt(box), lit(lo)))
    assert(ids(openQ) == ids(graft.operators.SpatialOps.intersects(evs, col("e_geo"),
      stf.st_with_open_interval(stf.st_geomfromwkt(box), lit(lo)))))
    assert(scannedFiles(openQ) < spatialOnlyFiles, "open interval should drop leading days")
  }

  test("loader-pushed kNN equals full-scan kNN and reads fewer files") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_knn"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.01")
    CellStore.save(pts, path, col("cx"), col("cy"), 100.0)

    val k = 10
    val pruned = CellStore.knn(spark, path, "cx", "cy", qx = 437.0, qy = 291.0,
      k = k, cellSize = 100.0)
    val prunedIds = pruned.select(col("c_custkey"), col("knn_dist")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._2)

    // brute force over the full table
    val brute = pts.withColumn("d",
        sqrt((col("cx") - 437.0) * (col("cx") - 437.0) +
             (col("cy") - 291.0) * (col("cy") - 291.0)))
      .orderBy(col("d")).limit(k)
      .select(col("c_custkey"), col("d")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._2)

    assert(prunedIds.map(_._2).toSeq == brute.map(_._2).toSeq) // same distances
    assert(prunedIds.length == k)

    // and it actually pruned: the conclusive ring's job (the lookup's last;
    // the result itself is a local frame) read a small fraction of the
    // store's rows
    val readRows = TestJobs.inputRowsPerJob(spark)(CellStore.knn(spark, path, "cx", "cy",
      qx = 437.0, qy = 291.0, k = k, cellSize = 100.0)).last
    val total = CellStore.load(spark, path).count()
    assert(readRows > 0 && readRows < total / 2, s"read $readRows of $total rows")
  }

  test("CellStore.knn settled by its first ring runs one job and serves its rows locally") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_knn_jobs"
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.01")
    CellStore.save(pts, path, col("cx"), col("cy"), 100.0)
    // a cell centre: the first ring covers 50 units around the query,
    // more than the 3rd-nearest neighbour's distance here
    val k = 3
    var got: org.apache.spark.sql.DataFrame = null
    // loading the store lists its cell directories, itself a job here
    val listing = TestJobs.inputRowsPerJob(spark)(CellStore.load(spark, path)).size
    val jobs = TestJobs.inputRowsPerJob(spark) {
      got = CellStore.knn(spark, path, "cx", "cy", qx = 450.0, qy = 250.0,
        k = k, cellSize = 100.0)
      got.collect()
    }.size - listing
    assert(jobs == 1, s"$jobs jobs beyond the $listing of the store listing")
    val dists = got.select(col("knn_dist")).collect().map(_.getDouble(0)).toSeq
    val brute = pts.select(sqrt((col("cx") - 450.0) * (col("cx") - 450.0) +
        (col("cy") - 250.0) * (col("cy") - 250.0)).as("d"))
      .orderBy(col("d")).limit(k).collect().map(_.getDouble(0)).toSeq
    assert(dists == brute && dists.last < 50.0, s"$dists vs $brute")
    assert(got.columns.toSeq == CellStore.load(spark, path).columns.toSeq :+ "knn_dist")
  }


  test("TileStore: CSV round trip is the identity; parquet store prunes on the query box") {
    import graft.operators.Raster
    import graft.sources.TileStore
    val tiles = Raster.rasterize(Tables.eventPts(spark, "/root/testdata/sf0.001"),
      col("ex"), col("ey"), 10.0, 10, 10)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("ulx"), col("uly"), concat_ws(",", transform(col("data"), x => x.cast("string"))))
      .collect().map(_.toSeq).toSet

    val csvPath = s"${System.getProperty("java.io.tmpdir")}/graft_tilestore_csv_spec"
    TileStore.saveCsv(tiles, csvPath)
    assert(key(TileStore.loadCsv(spark, csvPath)) == key(tiles))

    val pqPath = s"${System.getProperty("java.io.tmpdir")}/graft_tilestore_pq_spec"
    TileStore.save(tiles, pqPath, cellSize = 100.0)
    assert(key(TileStore.load(spark, pqPath)) == key(tiles))

    val pruned = TileStore.loadIntersecting(spark, pqPath,
      150.0, 150.0, 350.0, 350.0, cellSize = 100.0, maxTileSpan = 100.0)
    // correctness: pruned load == full-scan strict-overlap filter
    val expect = tiles.filter(col("ulx") < 350 && col("ulx") + 100 > 150 &&
      col("uly") > 150 && col("uly") - 100 < 350)
    assert(key(pruned) == key(expect))
    // and it actually pruned the file listing
    import org.apache.spark.sql.execution.FileSourceScanExec
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head.metrics("numFiles").value
    val total = TileStore.load(spark, pqPath).inputFiles.length
    assert(scanned < total, s"expected pruning: scanned $scanned of $total files")
  }

  test("TileStore typed element codecs: byte/int stores serve identically to long") {
    import graft.operators.Raster
    import graft.sources.TileStore
    // values mod 97 so they genuinely fit the byte codec
    val tiles = Raster.rasterize(Tables.eventPts(spark, "/root/testdata/sf0.001"),
        col("ex"), col("ey"), 10.0, 10, 10)
      .withColumn("data", transform(col("data"), v => pmod(v, lit(97L))))
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("ulx"), col("uly"), concat_ws(",", transform(col("data"), x => x.cast("string"))))
      .collect().map(_.toSeq).toSet
    val want = key(tiles)
    val base = java.nio.file.Files.createTempDirectory("tile_elem").toString
    for (elem <- Seq("byte", "int", "long")) {
      val p = s"$base/$elem"
      TileStore.save(tiles, p, cellSize = 100.0, elementType = elem)
      assert(TileStore.storedElemType(spark, p) == elem)
      val back = TileStore.load(spark, p)
      // the compute representation is array<long> whatever the codec
      assert(back.schema("data").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true) ||
        back.schema("data").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false),
        back.schema("data").dataType.toString)
      assert(key(back) == want, s"elementType=$elem round trip diverged")
      // pruned load decodes too — and the decode must not defeat the
      // directory-level pruning (it runs AFTER the metadata-only filters)
      val pruned = TileStore.loadIntersecting(spark, p,
        150.0, 150.0, 350.0, 350.0, cellSize = 100.0, maxTileSpan = 100.0)
      val expect = tiles.filter(col("ulx") < 350 && col("ulx") + 100 > 150 &&
        col("uly") > 150 && col("uly") - 100 < 350)
      assert(key(pruned) == key(expect), s"elementType=$elem pruned load diverged")
      import org.apache.spark.sql.execution.FileSourceScanExec
      pruned.collect()
      val scanned = pruned.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }.head.metrics("numFiles").value
      val total = TileStore.load(spark, p).inputFiles.length
      assert(scanned < total,
        s"elementType=$elem expected file pruning: scanned $scanned of $total")
    }
    // stored PHYSICAL widths are the natural ones: byte = one BINARY blob
    // (1 B/pixel in memory, shuffle, and scan buffers — 8× under
    // array<long>; on-disk parquet deltas depend on encoding since
    // bit-packing already shrinks small longs), int = array<int>
    assert(spark.read.parquet(s"$base/byte").schema("data").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(spark.read.parquet(s"$base/int").schema("data").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(spark.read.parquet(s"$base/int").schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
    // overflow and nulls fail loudly instead of silently wrapping
    val wide = tiles.withColumn("data", transform(col("data"), v => v + 1000L))
    val e1 = intercept[Exception] {
      TileStore.save(wide, s"$base/ovf", cellSize = 100.0, elementType = "byte")
    }
    assert(e1.getMessage.contains("does not fit") ||
      e1.getCause != null && e1.getCause.getMessage.contains("does not fit"))
    val e2 = intercept[IllegalArgumentException] {
      TileStore.save(tiles, s"$base/bad", cellSize = 100.0, elementType = "float")
    }
    assert(e2.getMessage.contains("elementType"))
    // byte histogram fast path == the generic histogram on byte-ranged data
    val viaFast = Raster.byteValueHistogram(TileStore.load(spark, s"$base/byte"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaGeneric = Raster.valueHistogram(tiles)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFast == viaGeneric && viaFast.nonEmpty)
    // out-of-range pixels refuse the fast path loudly
    val e3 = intercept[Exception] { Raster.byteValueHistogram(wide).collect() }
    assert(e3.getMessage.contains("byte range") ||
      e3.getCause != null && e3.getCause.getMessage.contains("byte range"))
  }

  test("filterGeom composes with the pruned tile-store load (gate before pixel work)") {
    import graft.operators.{JoinPredicate, Raster}
    import graft.sources.TileStore
    val tiles = Raster.rasterize(Tables.eventPts(spark, "/root/testdata/sf0.001"),
      col("ex"), col("ey"), 10.0, 10, 10)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_tilestore_clip_spec"
    TileStore.save(tiles, path, cellSize = 100.0)
    val qry = graft.functions.stf.st_geomfromwkt("POLYGON ((0 0, 375 0, 0 375, 0 0))")
    val viaStore = Raster.filterGeom(
      TileStore.loadIntersecting(spark, path, 0.0, 0.0, 375.0, 375.0, 100.0, 100.0),
      qry, JoinPredicate.Intersects, default = -1L)
    val direct = Raster.filterGeom(tiles, qry, JoinPredicate.Intersects, default = -1L)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ulx"), col("uly"), concat_ws(",", transform(col("data"), x => x.cast("string"))))
      .collect().map(_.toSeq).toSet
    // the triangle lies inside the query box, so the pruned load loses nothing
    assert(key(viaStore) == key(direct) && direct.count() > 0)
  }

  test("temporal layout pushes the time-range filter into the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_store_temporal"
    val e = Tables.eventPts(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), expr("ts div 1000").as("et"))
    CellStore.saveTemporal(e, path, col("et"), numPartitions = 8)

    val t0 = 1704844800000000L; val t1 = 1705708800000000L
    val ranged = CellStore.loadTimeRange(spark, path, "et", t0, t1)
    ranged.collect()
    val scan = ranged.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    // the predicate must reach the scan (data skipping via row-group stats)
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(et,"),
      scan.metadata("PushedFilters"))
    // correctness: same rows as an unsorted full-scan filter
    val expected = e.filter(col("et") >= t0 && col("et") <= t1).count()
    assert(ranged.count() == expected && expected > 0)
  }

  test("BSP regions cover all data, are disjoint, and respect maxCost") {
    val pts = Tables.customerPts(spark, "/root/testdata/sf0.001").cache()
    val maxCost = 100L
    val regions = Partitioners.bspRegions(pts, col("cx"), col("cy"), 100.0, maxCost)
    assert(regions.nonEmpty)
    // cost bound (single cells may exceed)
    regions.foreach { r =>
      assert(r.cost <= maxCost || (r.x1 - r.x0) * (r.y1 - r.y0) == 1,
        s"oversized splittable region: $r")
    }
    // disjoint
    for (a <- regions; b <- regions if a != b) {
      val overlap = a.x0 < b.x1 && b.x0 < a.x1 && a.y0 < b.y1 && b.y0 < a.y1
      assert(!overlap, s"overlapping regions: $a $b")
    }
    // total cost = row count (full coverage)
    assert(regions.map(_.cost).sum == pts.count())

    // applying the partitioner keeps every row exactly once
    val parted = Partitioners.bspPartition(pts, col("cx"), col("cy"), 100.0, maxCost)
    assert(parted.count() == pts.count())
    assert(parted.filter(col("part_id") < 0).count() == 0)
  }

  test("BSP splits a width-1 hot column on y (regression: y-loop null guard)") {
    // all points share one cell column (cx fixed, cy spread): the bounding
    // region has x-width 1, so the x candidate loop produces nothing and the
    // y loop must initialize `best` itself — this used to NPE
    import spark.implicits._
    val pts = (0 until 400).map(i => (50.0, i * 10.0)).toDF("px", "py")
    val maxCost = 50L
    val regions = Partitioners.bspRegions(pts, col("px"), col("py"), 100.0, maxCost)
    assert(regions.size > 1, s"expected y splits, got $regions")
    regions.foreach { r =>
      assert(r.x1 - r.x0 == 1, s"unexpected x extent: $r")
      assert(r.cost <= maxCost || (r.y1 - r.y0) == 1, s"oversized splittable region: $r")
    }
    assert(regions.map(_.cost).sum == 400L)
  }

  test("grid + spatio-temporal partition keys are stable") {
    val e = Tables.eventPts(spark, "/root/testdata/sf0.001")
    val parted = Partitioners.spatioTemporalPartition(e, col("e_geo"),
      expr("ts div 1000"), cellSize = 100.0, timeBucket = 86400000000L,
      numPartitions = 8)
    assert(parted.select(col("part_cell"), col("part_tbucket")).distinct().count() > 1)
    assert(parted.count() == e.count())
  }
}
