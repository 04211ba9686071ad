package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Driver-collect lint: every `.collect()` in MAIN source must be a
 * consciously audited, bounded-by-construction site. The bounded-collect
 * discipline was previously enforced only by review; this spec makes an
 * unbounded (or merely unaudited) collect fail CI — adding one requires
 * adding a registry entry here, which is the audit.
 *
 * Registry key = (source file base name, exact trimmed line) → occurrence
 * count, so moving or editing a collect site also forces a re-audit. The
 * per-file comments state each site's bound; "bounded by construction"
 * means the collected table's row count is fixed by configuration
 * (sample sizes, k, vocab caps, partition counts, query-batch contracts),
 * never by corpus size.
 */
class CollectBoundSpec extends AnyFunSuite {

  private val registry: Map[String, Map[String, Int]] = Map(
    // merge table ≤ numMerges (config); word histogram capped by vocab kernel
    "Bpe.scala" -> Map(
      ".collect().map(r => (r.getString(0), r.getLong(1))).toSeq" -> 1,
      ".collect().map(r => (r.getString(1), r.getString(2))).toSeq" -> 1,
      "merges.orderBy(col(\"merge_rank\")).collect()" -> 2,
    ),
    // 1-row aggregate (global cell-range stats); kNN rings: each ring's
    // candidates are orderBy(...).limit(k), so ≤ k rows
    "CellStore.scala" -> Map(
      "min(col(\"part_cy\")), max(col(\"part_cy\"))).collect()(0)" -> 1,
      ".orderBy(col(\"knn_dist\")).limit(k).collect()" -> 1,
      "if (result == null) result = ranked.orderBy(col(\"knn_dist\")).limit(k).collect()" -> 1,
    ),
    // model rows ≤ dim ≤ MaxDim (2^20; 8 MB dense) — collectWeights
    "Classifier.scala" -> Map(
      ".collect().foreach { r =>" -> 1,
    ),
    // pivot k-center samples (<= 4096 rows x dims <= 1024 floats; model
    // sites and predict cores) and the per-cell radius tables (<=
    // numPivots rows each) of the high-dim kernels
    "DBSCAN.scala" -> Map(
      ".select(col(\"__v\")).collect()" -> 1,
      ".select(col(\"__kv\")).collect()" -> 1,
      ".collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap" -> 2,
    ),
    // quotient edges counted against the 4M bound first; GraphX fallback past it
    "ConnectedComponents.scala" -> Map(
      "unionFind(qEdges.as[(Long, Long)].collect().iterator).toDF(\"__lbl\", \"__comp\")" -> 1,
    ),
    // LM tables gated by the documented 4M-row broadcast cap (loud failure);
    // DSIR ratio table is hash-bucket-bounded (2^buckets)
    "EventStreams.scala" -> Map(
      "val bi = biDf.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap" -> 1,
      "val ratios = ratioDf.collect()" -> 1,
      "val uni = uniDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap" -> 1,
    ),
    // kNN expand rounds: each round's candidates are orderBy(...).limit(k),
    // so ≤ k rows
    "IndexStore.scala" -> Map(
      "val cand = candidates(r).collect()" -> 1,
      "if (result == null) result = candidates(r).collect()" -> 1,
    ),
    // SPARSE occupied-cell histogram: O(occupied cells), never the bbox
    "Partitioners.scala" -> Map(
      ".collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap" -> 1,
    ),
    // asOf carry-in: per-pid max-right table, ≤ numPartitions rows
    "TemporalJoin.scala" -> Map(
      "val pmRows = pidMax.collect().map(r => r.getInt(0) -> r.get(1)).sortBy(_._1)" -> 1,
    ),
    // per-group/per-partition count tables (≤ #groups / #partitions rows)
    // and 1-row totals — the shared prefix-rank kernel's driver glue
    "Pipeline.scala" -> Map(
      ".collect().map(r => r.getString(0) -> r.getLong(1)).toList" -> 1,
      "val counts = countsDf.collect()" -> 1,
      "val counts = keyed.groupBy(col(\"__es_pid\")).count().collect()" -> 1,
      "val counts = keyed.groupBy(col(\"__lb_pid\")).count().collect()" -> 1,
      "val offRows = totals.collect()" -> 1,
      "val t = totals.collect()(0)" -> 1,
    ),
    // bounded deterministic samples (limit(max(sampleN, ksub))), broadcast
    // query batches (contractual), k×dim centroid/codebook tables, probed
    // cell ids ≤ nlist, k+1 seed rows, per-dim scalar-quant model ≤
    // MaxScalarQuantDim
    "Similarity.scala" -> Map(
      ".collect()" -> 1,
      ".select(col(\"__cv\")).collect()" -> 5,
      ".select(col(\"__cv\"), col(\"__cell\")).collect()" -> 3,
      ".select(col(\"__v\")).collect().map(r => toDoubles(r.getSeq[Float](0)))" -> 1,
      "col(\"min_v\"), col(\"max_v\")).collect()" -> 1,
      "val cells = q.select(col(\"__qcell\")).distinct().collect().map(_.getInt(0))" -> 1,
      // 4th site: nswCandidates — the same broadcast-small query-batch
      // contract as the other indexed readers
      "val qBatch = queries.select(queryId.as(\"query_id\"), queryVec.as(\"__qv\")).collect()" -> 4,
      "val seedRows = v.orderBy(col(\"id\")).limit(k + 1).collect()" -> 1,
    ),
    // per-partition corner points only (corners-only driver scan)
    "Skyline.scala" -> Map(
      ".collect().map { r =>" -> 1,
    ),
    // driver rows of catalog queries: vocab-store tokens (capped),
    // BPE pair table (bounded by merges), partition range rows, the
    // q212 invariant's 20-query × top-10 recall pair sets, and q232's
    // 1-row visited-average aggregate
    "SparkEntry.scala" -> Map(
      // two bare `.collect()` continuation lines: the q212 recall pair set,
      // and q244/q247's clickViewFeed — ONE collect now feeds both stream
      // sides (r14: one slim quadruple per click/view row, ~20k rows/side
      // at sf0.1; feeding a MemoryStream replay is inherently driver-side,
      // split click/view in the driver)
      ".collect()" -> 2,
      ".agg(avg(col(\"n_visited\"))).collect()(0).getDouble(0)" -> 1,
      // q235's 1-row max-visited aggregate (beam-cost cap pin)
      ".agg(max(col(\"n_visited\"))).collect()(0).getLong(0)" -> 1,
      ".collect().map(r => (r.getString(0), r.getLong(1))).toSeq" -> 1,
      ".collect().map(r => (r.getLong(0), r.getLong(1))).toSet" -> 1,
      ".collect().sortBy(_.getAs[Long](\"__lo\"))" -> 1,
      ".select(col(\"token\")).collect().map(_.getString(0)).toSeq" -> 1,
    ),
    // broadcastJoin's contractually-small right side, gated by the counted
    // maxBroadcastRows bound (loud failure before the collect)
    "SpatialJoin.scala" -> Map(
      "val bc = left.sparkSession.sparkContext.broadcast(right.collect())" -> 1,
    ),
    // per-query-term dictionary rows (≤ #terms) and the term list itself
    "TextSearch.scala" -> Map(
      ".collect().map(_.getString(0)).toSeq" -> 1,
      ".collect().map(r => r.getString(0) -> r.getLong(1)).toMap" -> 1,
    ),
    // vocab-store tokens: capped by vocabSize at learn time
    "Unigram.scala" -> Map(
      ".collect().map(r => (r.getString(0), r.getLong(1))).toSeq, maxLen)" -> 1,
      "vocab.select(col(\"token\"), col(\"cnt\")).collect()" -> 1,
    ),
    // pixel bins ≤ w×h (the canvas, not the data) — distributed binning
    // happens first, only the bounded image comes back
    "Visualize.scala" -> Map(
      "val bins = Visualize.bins(df, xCol, yCol, x0, y0, x1, y1, w, h).collect()" -> 1,
      "val binsArr = rasterBins(tiles, x0, y0, x1, y1, w, h).collect()" -> 1,
      "val inked = geomBins(df, geo, x0, y0, x1, y1, w, h, fill, pointSize).collect()" -> 1,
    ),
    // vocab-store tokens: capped by vocabSize at learn time
    "Wordpiece.scala" -> Map(
      ".collect().map(_.getString(0)).toSeq, maxLen)" -> 1,
      "vocab.select(col(\"token\")).collect().map(_.getString(0)).toSeq," -> 1,
    ),
  )

  test("every main-source .collect() call site is registered with a documented bound") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.Map.empty[(String, String), Int]
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.iterator().forEachRemaining { p =>
        if (p.toString.endsWith(".scala")) {
          val name = p.getFileName.toString
          scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().foreach { line =>
            val t = line.trim
            if (t.contains(".collect()") && !t.startsWith("//") && !t.startsWith("*"))
              found((name, t)) = found.getOrElse((name, t), 0) + 1
          }
        }
      }
    } finally stream.close()
    val registered = for {
      (f, lines) <- registry.toSeq; (l, n) <- lines.toSeq
    } yield (f, l) -> n
    val regMap = registered.toMap
    val unregistered = found.toSeq.filter { case (k, n) => regMap.getOrElse(k, 0) != n }
    val stale = regMap.toSeq.filter { case (k, n) => found.getOrElse(k, 0) != n }
    assert(unregistered.isEmpty,
      "UNREGISTERED .collect() call sites (audit the driver-side bound, then " +
      "add each to CollectBoundSpec's registry with a comment stating the " +
      s"bound):\n${unregistered.map { case ((f, l), n) => s"  $f ($n): $l" }.mkString("\n")}")
    assert(stale.isEmpty,
      "STALE registry entries (the call site moved or was removed — re-audit " +
      s"and update the registry):\n${stale.map { case ((f, l), n) => s"  $f ($n): $l" }.mkString("\n")}")
  }
}
