package graft

import graft.operators.DBSCAN
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DBSCAN post-conditions — reference test style #4 (SURVEY §5; the
  * reference asserts output count == input count, SpatialRDDTestCase:270-288)
  * plus semantic invariants of the clustering itself. */
class DBSCANSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def points = Tables.customerPts(spark, "/root/testdata/sf0.001")

  test("every input point gets exactly one label; clusters have >= minPts-consistent structure") {
    val pts = points
    val out = DBSCAN.cluster(pts, col("c_custkey"), col("cx"), col("cy"),
      eps = 32.0, minPts = 5).cache()
    assert(out.count() == pts.count())
    assert(out.select(col("id")).distinct().count() == pts.count())

    // each non-noise cluster contains its own id (min core id is a member)
    val bad = out.filter(col("cluster_id") >= 0)
      .groupBy(col("cluster_id")).agg(min(col("id")).as("min_id"))
      .filter(col("cluster_id") =!= col("min_id")).count()
    assert(bad == 0)
  }

  test("coincident points cluster exactly like distinct ones; null coords stay noise") {
    import spark.implicits._
    // 3 sites of 4 coincident points each, sites within eps of each other,
    // plus one isolated point and one null-coordinate row: the site
    // collapse must produce the same labels a point-level run would —
    // all 12 coincident points are core (neighbor count 8..12 >= 5) and
    // share cluster 1 (the min id), the isolated point and the null row
    // are noise, and NO row is dropped
    val pts = (
      (1 to 4).map(i => (i.toLong, Some(10.0), Some(10.0))) ++
      (5 to 8).map(i => (i.toLong, Some(13.0), Some(10.0))) ++
      (9 to 12).map(i => (i.toLong, Some(10.0), Some(13.0))) ++
      Seq((13L, Some(500.0), Some(500.0)), (14L, None: Option[Double], None: Option[Double]))
    ).toDF("id0", "x0", "y0")
    val got = DBSCAN.cluster(pts, col("id0"), col("x0"), col("y0"),
        eps = 5.0, minPts = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 14, s"rows dropped: ${got.keySet}")
    assert((1 to 12).forall(i => got(i.toLong) == 1L), got.toString)
    assert(got(13L) == -1L && got(14L) == -1L)
  }

  test("an integer id column is widened to long, same labels as the long run") {
    val pts = points
    val longRun = DBSCAN.cluster(pts, col("c_custkey"), col("cx"), col("cy"),
      eps = 32.0, minPts = 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val intRun = DBSCAN.cluster(pts.withColumn("ik", col("c_custkey").cast("int")),
      col("ik"), col("cx"), col("cy"), eps = 32.0, minPts = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(intRun == longRun && intRun.nonEmpty)
  }

  test("noise points have no core neighbor; changing eps obeys monotonicity") {
    val pts = points.cache()
    val small = DBSCAN.cluster(pts, col("c_custkey"), col("cx"), col("cy"), 32.0, 5)
      .filter(col("cluster_id") >= 0).count()
    val large = DBSCAN.cluster(pts, col("c_custkey"), col("cx"), col("cy"), 40.0, 5)
      .filter(col("cluster_id") >= 0).count()
    // larger eps can only add clustered points (cores grow monotonically)
    assert(large >= small)
  }

  test("reference labeled_data fixture: perfect ground-truth recovery (their unfinished TODO)") {
    // the reference's SparkDBScanSpec runs eps=0.3/minPts=10 over
    // src/test/resources/labeled_data.csv but its result comparison is a
    // commented-out TODO (SparkDBScanSpec.scala:75-80 'requires a mapping
    // of cluster ids'). Completing it: each found cluster maps to exactly
    // one ground-truth label with ZERO impurities, and the whole labeling
    // is pinned (deterministic min-id cluster naming).
    import spark.implicits._
    val rows = scala.util.Using.resource(scala.io.Source.fromFile(
        "/root/reference/src/test/resources/labeled_data.csv"))(_.getLines().toSeq
      .zipWithIndex.map { case (l, i) =>
        val a = l.split(','); (i.toLong, a(0).toDouble, a(1).toDouble, a(2).toInt) })
    val df = rows.toDF("id", "x", "y", "label")
    val out = DBSCAN.cluster(df, col("id"), col("x"), col("y"), eps = 0.3, minPts = 10)
    val j = out.join(df, "id").select(col("cluster_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(j.count(_._1 == -1L) == 18) // sparse fringe = noise
    val byCluster = j.filter(_._1 != -1L).groupBy(_._1)
      .map { case (c, g) => (c, g.map(_._2).distinct.toSet, g.length) }
    // three clusters, each label-pure, sizes pinned
    assert(byCluster.toSet == Set((0L, Set(1), 243), (1L, Set(3), 243), (3L, Set(2), 245)))
  }

  test("all points in one dense blob form a single cluster") {
    import spark.implicits._
    val blob = (0 until 50).map(i => (i.toLong, (i % 7).toDouble, (i / 7).toDouble))
      .toDF("k", "x", "y")
    val out = DBSCAN.cluster(blob, col("k"), col("x"), col("y"), eps = 1.5, minPts = 3)
    assert(out.select(col("cluster_id")).distinct().count() == 1)
    assert(out.filter(col("cluster_id") === 0L).count() == 50)
  }

  test("model + predict: training core/border points classify to their own label") {
    import spark.implicits._
    val rows = scala.util.Using.resource(scala.io.Source.fromFile(
        "/root/reference/src/test/resources/labeled_data.csv"))(_.getLines().toSeq
      .zipWithIndex.map { case (l, i) =>
        val a = l.split(','); (i.toLong, a(0).toDouble, a(1).toDouble) })
    val df = rows.toDF("id", "x", "y")
    val m = DBSCAN.model(df, col("id"), col("x"), col("y"), eps = 0.3, minPts = 10)
      .cache()
    // cluster() is exactly the model minus the model-only columns
    val viaCluster = DBSCAN.cluster(df, col("id"), col("x"), col("y"), 0.3, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaModel = m.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(viaModel == viaCluster)
    assert(DBSCAN.numOfClusters(m) == 3)
    // predict(training points): every CORE point is within eps of itself
    // (d=0) and its own cluster wins the tie-break; border points must get
    // the same min-core-cluster label the clustering gave them. Noise may
    // legitimately stay noise or not — exclude it.
    val pred = DBSCAN.predict(m, df, col("id"), col("x"), col("y"), eps = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labeled = m.filter(col("cluster_id") =!= -1L)
      .select(col("id"), col("cluster_id")).collect()
    labeled.foreach { r =>
      assert(pred(r.getLong(0)) == r.getLong(1),
        s"point ${r.getLong(0)}: predict=${pred(r.getLong(0))} cluster=${r.getLong(1)}")
    }
    // a far-away probe is noise
    val probe = Seq((999L, 100.0, 100.0)).toDF("id", "x", "y")
    val p = DBSCAN.predict(m, probe, col("id"), col("x"), col("y"), 0.3).head()
    assert(p.getLong(1) == -1L)
    m.unpersist()
  }

  test("predict tie-breaks: equidistant cores resolve to the lower cluster id") {
    import spark.implicits._
    // two 3-point vertical columns 4 apart: with eps=2/minPts=3 each column
    // is one cluster (ids 0 and 10). A probe at x=2 sits exactly 2 from
    // both columns' middle cores — the lower cluster id must win.
    val train = Seq(
      (0L, 0.0, 0.0), (1L, 0.0, 1.0), (2L, 0.0, 2.0),
      (10L, 4.0, 0.0), (11L, 4.0, 1.0), (12L, 4.0, 2.0)).toDF("id", "x", "y")
    val m = DBSCAN.model(train, col("id"), col("x"), col("y"), eps = 2.0, minPts = 3)
    assert(DBSCAN.numOfClusters(m) == 2)
    val probe = Seq((100L, 2.0, 1.0)).toDF("id", "x", "y")
    val p = DBSCAN.predict(m, probe, col("id"), col("x"), col("y"), eps = 2.0).head()
    assert(p.getLong(1) == 0L)
  }

  test("kDistHistogram: exact buckets, boundary distance, overflow bucket") {
    import spark.implicits._
    // NN distances: 0<->1 at d=3 (bucket 0 at width 4), 2<->3 at d=4
    // (exactly on the boundary -> bucket 1), 4 isolated at d=50 from
    // everything (> 4*4=16 -> overflow bucket 4)
    val pts = Seq((0L, 0.0, 0.0), (1L, 3.0, 0.0),
                  (2L, 100.0, 0.0), (3L, 104.0, 0.0),
                  (4L, 500.0, 0.0)).toDF("id", "x", "y")
    val h = DBSCAN.kDistHistogram(pts, col("id"), col("x"), col("y"),
        bucketWidth = 4L, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(h == Set((0L, 0L, 2L), (1L, 4L, 2L), (4L, 16L, 1L)))
  }

  test("clusterVec(dims=2) equals the 2-d cluster on the labeled fixture") {
    import spark.implicits._
    val rows = scala.util.Using.resource(scala.io.Source.fromFile(
        "/root/reference/src/test/resources/labeled_data.csv"))(_.getLines().toSeq
      .zipWithIndex.map { case (l, i) =>
        val a = l.split(','); (i.toLong, a(0).toFloat, a(1).toFloat) })
    val asXY = rows.map { case (i, x, y) => (i, x.toDouble, y.toDouble) }
      .toDF("id", "x", "y")
    val asVec = rows.map { case (i, x, y) => (i, Array(x, y)) }.toDF("id", "v")
    val flat = DBSCAN.cluster(asXY, col("id"), col("x"), col("y"), 0.3, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vec = DBSCAN.clusterVec(asVec, col("id"), col("v"), dims = 2,
        eps = 0.3, minPts = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // float->double coordinates on both paths, same eps ball, same labels
    assert(vec == flat)
  }

  test("clusterVec: 1-d and 3-d hand cases, dims cap fails loudly") {
    import spark.implicits._
    // 1-d: {0,1,2} dense (all pairwise <= 1.5 via chain), 10 isolated
    val one = Seq((0L, Array(0.0f)), (1L, Array(1.0f)), (2L, Array(2.0f)),
                  (9L, Array(50.0f))).toDF("id", "v")
    val g1 = DBSCAN.clusterVec(one, col("id"), col("v"), dims = 1,
        eps = 1.5, minPts = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(g1 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 9L -> -1L))
    // 3-d: two blobs on the z axis; slicing dims=3 of longer vectors works
    val three = Seq(
      (0L, Array(0f, 0f, 0f, 99f)), (1L, Array(0f, 0f, 1f, -99f)),
      (2L, Array(0f, 0f, 2f, 0f)),
      (10L, Array(0f, 0f, 30f, 0f)), (11L, Array(0f, 0f, 31f, 7f)),
      (12L, Array(0f, 0f, 32f, 0f))).toDF("id", "v")
    val g3 = DBSCAN.clusterVec(three, col("id"), col("v"), dims = 3,
        eps = 1.5, minPts = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 4th component ignored by the slice; two clusters labeled by min ids
    assert(g3 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    val e = intercept[IllegalArgumentException] {
      DBSCAN.clusterVec(three, col("id"), col("v"), dims = 5, eps = 1.0, minPts = 2)
    }
    assert(e.getMessage.contains("3^d"))
  }

  test("randomized: cluster and clusterVec equal a brute-force reference on boundary-heavy grids") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // integer coordinates with eps = 2: many pairs land exactly ON the
    // radius (d² = 4) — the cell kernel's boundary case
    for (trial <- 1 to 3) {
      val pts = (0 until 60).map(i =>
        (i.toLong, rnd.nextInt(12).toDouble, rnd.nextInt(12).toDouble))
      val (eps, minPts) = (2.0, 3)
      // brute reference: exact neighbor sets, union-find over cores,
      // border = min cluster among core neighbors
      val nbrs = pts.map { case (i, x, y) =>
        i -> pts.filter { case (_, x2, y2) =>
          (x - x2) * (x - x2) + (y - y2) * (y - y2) <= eps * eps
        }.map(_._1).toSet
      }.toMap
      val core = pts.map(_._1).filter(i => nbrs(i).size >= minPts).toSet
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        r
      }
      for (i <- core; j <- nbrs(i) if core(j)) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
      val cid = core.map(i => i -> core.filter(j => find(j) == find(i)).min).toMap
      val want = pts.map { case (i, _, _) =>
        i -> (if (core(i)) cid(i)
              else {
                val cn = nbrs(i).filter(core)
                if (cn.nonEmpty) cn.map(cid).min else -1L
              })
      }.toMap
      val df = pts.toDF("id", "x", "y")
      val flat = DBSCAN.cluster(df, col("id"), col("x"), col("y"), eps, minPts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(flat == want, s"trial $trial (2-d): ${flat.toSet -- want.toSet}")
      val vec = DBSCAN.clusterVec(
          pts.map { case (i, x, y) => (i, Array(x.toFloat, y.toFloat)) }.toDF("id", "v"),
          col("id"), col("v"), dims = 2, eps = eps, minPts = minPts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vec == want, s"trial $trial (vec): ${vec.toSet -- want.toSet}")
    }
  }

  test("clusterVecPivot == clusterVec on low-dim boundary-heavy grids (all pivot counts)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val pts = (0 until 60).map(i =>
      (i.toLong, Array(rnd.nextInt(12).toFloat, rnd.nextInt(12).toFloat)))
    val df = pts.toDF("id", "v")
    val want = DBSCAN.clusterVec(df, col("id"), col("v"), dims = 2,
        eps = 2.0, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // pivot counts below/at/above the site count — including the
    // degenerate 1-pivot case (everything in one Voronoi cell)
    for (p <- Seq(1, 4, 16, 256)) {
      val got = DBSCAN.clusterVecPivot(df, col("id"), col("v"), dims = 2,
          eps = 2.0, minPts = 3, numPivots = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == want, s"numPivots=$p: ${got -- want} / ${want -- got}")
    }
  }

  test("clusterVecPivot dims=16: equals brute force; duplicates and null vectors handled") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 3) {
      val base = (0 until 50).map(i =>
        (i.toLong, Array.fill(16)((rnd.nextInt(8) / 4.0).toFloat)))
      // plant coincident duplicates (the site collapse) + a null vector
      val dups = (50 until 58).map(i => (i.toLong, base(i % 5)._2))
      val pts = base ++ dups
      val eps = 1.5; val minPts = 4
      // brute reference in the exact arithmetic vec_dist2 uses
      // (per-element double subtraction, index-order sum)
      def d2(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
        }
        s
      }
      val nbrs = pts.map { case (i, v) =>
        i -> pts.filter { case (_, w) => d2(v, w) <= eps * eps }.map(_._1).toSet
      }.toMap
      val core = pts.map(_._1).filter(i => nbrs(i).size >= minPts).toSet
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        r
      }
      for (i <- core; j <- nbrs(i) if core(j)) {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
      val cid = core.map(i => i -> core.filter(j => find(j) == find(i)).min).toMap
      val want = (pts.map { case (i, _) =>
        i -> (if (core(i)) cid(i)
              else {
                val cn = nbrs(i).filter(core)
                if (cn.nonEmpty) cn.map(cid).min else -1L
              })
      } :+ (99L -> -1L)).toMap
      val df = (pts :+ (99L, null.asInstanceOf[Array[Float]])).toDF("id", "v")
      val got = DBSCAN.clusterVecPivot(df, col("id"), col("v"), dims = 16,
          eps = eps, minPts = minPts, numPivots = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: ${got.toSet -- want.toSet}")
    }
  }

  test("clusterVecPivot dims=8 on CLUSTERED data: equals brute force (the k-center regime)") {
    import spark.implicits._
    // Gaussian-ish blobs: the shape k-center pivots exist for (a dense
    // blob plus spread background) — distinct from the uniform-grid trial
    val rnd = new scala.util.Random(71)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextInt(40).toFloat))
    val pts = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + (rnd.nextInt(5) - 2) * 0.25f))
    }
    val eps = 1.9; val minPts = 4
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val nbrs = pts.map { case (i, v) =>
      i -> pts.filter { case (_, w) => d2(v, w) <= eps * eps }.map(_._1).toSet
    }.toMap
    val core = pts.map(_._1).filter(i => nbrs(i).size >= minPts).toSet
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    for (i <- core; j <- nbrs(i) if core(j)) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val cid = core.map(i => i -> core.filter(j => find(j) == find(i)).min).toMap
    val want = pts.map { case (i, _) =>
      i -> (if (core(i)) cid(i)
            else {
              val cn = nbrs(i).filter(core)
              if (cn.nonEmpty) cn.map(cid).min else -1L
            })
    }.toMap
    // several pivot counts, incl. more pivots than blobs and the 1-pivot
    // degenerate (everything in one Voronoi cell => rings do all pruning)
    for (p <- Seq(1, 4, 8)) {
      val got = DBSCAN.clusterVecPivot(pts.toDF("id", "v"), col("id"), col("v"),
          dims = 8, eps = eps, minPts = minPts, numPivots = p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"numPivots=$p: ${got.toSet -- want.toSet}")
    }
  }

  test("predictVecPivot == predictVec on shared dims; high-dim probes classify correctly") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    // low-dim equality: the two kernels must agree label-for-label
    val train2 = (0 until 60).map(i =>
      (i.toLong, Array(rnd.nextInt(12).toFloat, rnd.nextInt(12).toFloat))).toDF("id", "v")
    val probes2 = (100 until 140).map(i =>
      (i.toLong, Array(rnd.nextInt(14).toFloat - 1f, rnd.nextInt(14).toFloat - 1f))).toDF("id", "v")
    val m2 = DBSCAN.modelVec(train2, col("id"), col("v"), dims = 2,
      eps = 2.0, minPts = 3).cache()
    val grid = DBSCAN.predictVec(m2, probes2, col("id"), col("v"), dims = 2, eps = 2.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (p <- Seq(1, 8)) {
      val piv = DBSCAN.predictVecPivot(m2, probes2, col("id"), col("v"),
          dims = 2, eps = 2.0, numPivots = p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(piv == grid, s"numPivots=$p")
    }
    m2.unpersist()
    // high-dim: training cores classify to their own label, a near-probe
    // joins its blob, a far probe is noise, a null vector is noise
    val blobA = (0 until 8).map(i => (i.toLong, Array.fill(16)(0f).updated(0, i * 0.1f)))
    val blobB = (10 until 18).map(i => (i.toLong, Array.fill(16)(30f).updated(1, i * 0.1f)))
    val train = (blobA ++ blobB).toDF("id", "v")
    val m = DBSCAN.modelVecPivot(train, col("id"), col("v"), dims = 16,
      eps = 2.0, minPts = 4).cache()
    val labels = m.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val self = DBSCAN.predictVecPivot(m, train, col("id"), col("v"),
        dims = 16, eps = 2.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(self == labels) // all training points are core here
    val probes = Seq(
      (100L, Array.fill(16)(0.3f)),          // inside blob A => label of A
      (101L, Array.fill(16)(500f)),          // far => noise
      (102L, null.asInstanceOf[Array[Float]])) // null => noise, not NPE
      .toDF("id", "v")
    val got = DBSCAN.predictVecPivot(m, probes, col("id"), col("v"),
        dims = 16, eps = 2.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(100L) == labels(0L))
    assert(got(101L) == -1L && got(102L) == -1L)
    m.unpersist()
  }

  test("predictVec: cores classify to their own label, far probe is noise") {
    import spark.implicits._
    val three = Seq(
      (0L, Array(0f, 0f, 0f)), (1L, Array(0f, 0f, 1f)), (2L, Array(0f, 0f, 2f)),
      (10L, Array(0f, 0f, 30f)), (11L, Array(0f, 0f, 31f)),
      (12L, Array(0f, 0f, 32f))).toDF("id", "v")
    val m = DBSCAN.modelVec(three, col("id"), col("v"), dims = 3,
      eps = 1.5, minPts = 2).cache()
    val labels = m.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pred = DBSCAN.predictVec(m, three, col("id"), col("v"), dims = 3, eps = 1.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pred == labels) // all points are core here
    val far = Seq((99L, Array(500f, 0f, 0f))).toDF("id", "v")
    val p = DBSCAN.predictVec(m, far, col("id"), col("v"), dims = 3, eps = 1.5).head()
    assert(p.getLong(1) == -1L)
    m.unpersist()
  }

  test("kDistHistogram k=2: windowed k-th distance, deterministic ties, overflow") {
    import spark.implicits._
    // 2nd-NN distances: pt0 -> 4 (3,4), pt1 -> 3 (1,3), pt2 -> 4 (1,4),
    // pt3 isolated -> overflow bucket 4
    val pts = Seq((0L, 0.0, 0.0), (1L, 3.0, 0.0), (2L, 4.0, 0.0),
                  (3L, 500.0, 0.0)).toDF("id", "x", "y")
    val h = DBSCAN.kDistHistogram(pts, col("id"), col("x"), col("y"),
        bucketWidth = 4L, nBuckets = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(h == Set((0L, 0L, 1L), (1L, 4L, 2L), (4L, 16L, 1L)))
  }

  test("randomized: both histograms equal brute force on duplicate-heavy grids") {
    import spark.implicits._
    // small integer grid ⇒ many exactly-coincident points — the case the
    // weighted site walk must get right (distance-0 twins, multiplicity
    // crossings, ties at equal distance across sites)
    val hrnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val pts = (0 until 50).map(i =>
        (i.toLong, hrnd.nextInt(6).toDouble, hrnd.nextInt(6).toDouble))
      val df = pts.toDF("id", "x", "y")
      val (bw, nb, k) = (2L, 3, 1 + hrnd.nextInt(4))
      val radius = (bw * nb).toDouble
      // brute k-dist per point: k-th smallest distance to the OTHERS
      def isqrt(v: Double): Long = { // integer sqrt of the squared distance
        var r = math.sqrt(v).toLong
        while ((r + 1) * (r + 1) <= v.toLong) r += 1
        while (r * r > v.toLong) r -= 1
        r
      }
      val wantK = pts.map { case (i, x, y) =>
        val ds = pts.filter(_._1 != i)
          .map { case (_, x2, y2) => (x - x2) * (x - x2) + (y - y2) * (y - y2) }
          .filter(_ <= radius * radius).sorted
        if (ds.length >= k) math.min(isqrt(ds(k - 1)) / bw, nb.toLong)
        else nb.toLong
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val gotK = DBSCAN.kDistHistogram(df, col("id"), col("x"), col("y"),
          bucketWidth = bw, nBuckets = nb, k = k)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotK == wantK, s"trial $trial k=$k kdist: $gotK vs $wantK")
      // brute neighbor counts (self excluded), clamped buckets
      val eps = 2.5
      val wantN = pts.map { case (i, x, y) =>
        val n = pts.count { case (j, x2, y2) =>
          j != i && (x - x2) * (x - x2) + (y - y2) * (y - y2) <= eps * eps }
        math.min(n.toLong / bw, nb - 1L)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val gotN = DBSCAN.neighborhoodHistogram(df, col("id"), col("x"), col("y"),
          eps = eps, bucketWidth = bw, nBuckets = nb)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotN == wantN, s"trial $trial nbr: $gotN vs $wantN")
    }
  }

  test("neighborhoodHistogram: self excluded, top bucket clamps") {
    import spark.implicits._
    // a 5-point tight blob (each has 4 neighbors) + an isolated point
    // (0 neighbors); width 2, 2 buckets -> counts 4 clamp into bucket 1
    val pts = (0L to 4L).map(i => (i, i.toDouble * 0.1, 0.0)) :+ ((99L, 1000.0, 0.0))
    val df = pts.toDF("id", "x", "y")
    val h = DBSCAN.neighborhoodHistogram(df, col("id"), col("x"), col("y"),
        eps = 1.0, bucketWidth = 2L, nBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(h == Set((0L, 0L, 1L), (1L, 2L, 5L)))
  }

  test("label rule hand cases: border takes the lower cluster, null/NaN are noise, a lone core keeps its id") {
    import spark.implicits._
    // eps = 2, minPts = 6, integral coordinates: two 3 × 3 grids A (ids
    // 1-9, x 0..2) and B (ids 11-19, x 5..7) are core and never within eps
    // of each other; border point 20 at (4, 0) has 5 neighbours (itself,
    // A's (2, 0), B's (5, 0), (5, 1), (6, 0)), is nearer to B but takes A's
    // lower cluster id; lone core 50 at (100, 100) has four coincident
    // pairs of satellites (ids 41-48) at distance 2 that are mutually
    // farther apart, so it has 9 neighbours and no core neighbour and keeps
    // its own id while the satellites take it; 60 has a null and 61 a NaN
    // coordinate, and both are noise.
    val a = for (i <- 0 until 9) yield (1L + i, Some((i % 3).toDouble), Some((i / 3).toDouble))
    val b = for (i <- 0 until 9) yield (11L + i, Some(5.0 + i % 3), Some((i / 3).toDouble))
    val sat = Seq((102.0, 100.0), (98.0, 100.0), (100.0, 102.0), (100.0, 98.0))
      .zipWithIndex.flatMap { case ((x, y), j) =>
        Seq(41L + 2 * j, 42L + 2 * j).map(id => (id, Some(x), Some(y))) }
    val df = (a ++ b ++ sat ++ Seq(
      (20L, Some(4.0), Some(0.0)), (50L, Some(100.0), Some(100.0)),
      (60L, None, Some(3.0)), (61L, Some(Double.NaN), Some(3.0)))).toDF("id", "x", "y")
    val want = (a.map(_._1 -> (1L, true)) ++ b.map(_._1 -> (11L, true)) ++
      sat.map(_._1 -> (50L, false)) ++ Seq(20L -> (1L, false), 50L -> (50L, true),
      60L -> (-1L, false), 61L -> (-1L, false))).toMap
    def labels(m: org.apache.spark.sql.DataFrame) =
      m.select(col("id"), col("cluster_id"), col("is_core")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(labels(DBSCAN.model(df, col("id"), col("x"), col("y"), eps = 2.0, minPts = 6)) == want)
    // the vector kernels: a null coordinate is a null vector
    val vec = df.select(col("id"), when(col("x").isNull, lit(null))
      .otherwise(array(col("x").cast("float"), col("y").cast("float"))).as("v"))
    assert(labels(DBSCAN.modelVec(vec, col("id"), col("v"), dims = 2,
      eps = 2.0, minPts = 6)) == want)
    for (p <- Seq(1, 4))
      assert(labels(DBSCAN.modelVecPivot(vec, col("id"), col("v"), dims = 2,
        eps = 2.0, minPts = 6, numPivots = p)) == want, s"numPivots = $p")
  }

  test("model shuffles site-sized tables plus one direction of the core edges") {
    // a dense 30 × 30 unit grid in one partition: with eps = 5 every point
    // has at least 26 eps-neighbours (the corners) and the interior 81
    val side = 30
    val pts = spark.range(side * side).coalesce(1)
      .select(col("id"), (col("id") % side).cast("double").as("x"),
        (col("id") / side).cast("long").cast("double").as("y"))
      .localCheckpoint()
    val eps = 5.0
    val sites = (side * side).toLong
    val grid = for (i <- 0 until side; j <- 0 until side) yield (i, j)
    // eps-pairs with a <= b, self pairs included: the core edge list when
    // every point is core
    val halfPairs = grid.map { case (i, j) =>
      grid.count { case (u, v) =>
        (u * side + v) >= (i * side + j) && (u - i) * (u - i) + (v - j) * (v - j) <= 25 }
    }.sum.toLong
    def shuffled(minPts: Int): (Long, Long) = {
      var cores = 0L
      val n = TestJobs.shuffleRecordsWritten(spark) {
        cores = DBSCAN.model(pts, col("id"), col("x"), col("y"), eps, minPts)
          .filter(col("is_core")).count()
      }
      (n, cores)
    }
    // minPts above every neighbour count: nothing is core, no edge reaches
    // the components, and every shuffle left is site-sized
    val (none, noCores) = shuffled(1000)
    assert(noCores == 0L)
    assert(none <= 4 * sites, s"$none shuffle records for $sites sites")
    // minPts below every neighbour count: everything is core; the
    // components read each undirected edge once
    val (all, allCores) = shuffled(20)
    assert(allCores == sites)
    assert(all <= 8 * sites + halfPairs,
      s"$all shuffle records for $sites sites and $halfPairs edges")
  }
}
