package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/**
 * Two-level distributed connected components over an edge list
 * (`__a`, `__b` long node ids; self-loops keep isolated nodes).
 *
 * Level 1: hash-partition edges by source and run a union-find *inside each
 * partition* — this contracts the overwhelmingly-local structure of spatial
 * graphs in one pass with zero shuffles beyond the initial repartition.
 * Each node gets one or more local labels (the min node id of its local
 * component — a node id, so labels are globally comparable).
 *
 * Level 2: nodes seen in several partitions glue their labels together; the
 * resulting quotient graph (labels as nodes) is orders of magnitude smaller
 * and goes through GraphX Pregel CC. Final label = min node id of the
 * global component (the global min is always a local root, so it survives
 * contraction).
 *
 * This is the merge structure MR-DBSCAN prescribes (local clustering, then
 * merge), kept fully distributed — never a driver-side closure.
 */
object ConnectedComponents {

  /** In-memory union-find over an edge stream; one (node, root) pair per
    * seen node. Unions always attach the larger root under the smaller and
    * every node starts as its own root, so the returned root IS the set's
    * min node id — the invariant the component-label contract rests on.
    * Shared by the per-partition contraction and the driver glue step. */
  private def unionFind(edges: Iterator[(Long, Long)]): Vector[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = Vector.newBuilder[(Long, Long)]
    parent.keySet().forEach { n => out += ((n, find(n))) }
    out.result()
  }

  /** @param edges DataFrame with long columns `__a`, `__b`: undirected
    *              edges, so one direction of each edge is enough (both
    *              directions give the same components); include (x, x)
    *              self-loops for isolated nodes
    * @return (`__id`, `__comp`) — component = min node id, one row per node */
  def run(edges: DataFrame, numPartitions: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Level 1: per-partition union-find; emit (node, min-id-of-local-set)
    val localLabels = edges.repartition(numPartitions, col("__a"))
      .select(col("__a"), col("__b"))
      .mapPartitions { it =>
        unionFind(it.map(r => (r.getLong(0), r.getLong(1)))).iterator
      }(Encoders.product[(Long, Long)])
      .toDF("__id", "__lbl")

    // Level 2: per-node label sets -> quotient edges between labels
    val grouped = graft.plans.measuredCheckpoint(localLabels.groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__lbl"))).as("__ls")))
    val qEdges = grouped
      .select(explode(transform(col("__ls"), l => struct(element_at(col("__ls"), 1).as("_1"), l.as("_2")))).as("__e"))
      .select(col("__e._1").as("__a"), col("__e._2").as("__b"))

    // the quotient graph is contraction-small. Below a hard size bound the
    // glue step runs as a driver union-find (milliseconds, vs seconds of
    // fixed per-round Pregel overhead on a tiny graph); past the bound it
    // falls back to GraphX Pregel run to full convergence (a maxIter
    // cut-off would silently split long components). Collecting through the
    // specialized tuple encoder (16 B/edge, not Row objects) caps driver
    // memory at ~64 MB of edge pairs — a bounded collect, never data-sized.
    // The size gate is a count over the checkpointed `grouped` (one cheap
    // all-parallel pass), NOT limit(bound+1).collect(): CollectLimitExec
    // executes as a sequence of single-task incremental scans — measured as
    // two serialized ~0.6 s one-task stages inside DBSCAN — while
    // count + collect are both fully parallel jobs over the cache. A node
    // has one local label per partition it was seen in, so the quotient has
    // at most (nodes × numPartitions) edges; when the measured node count
    // keeps that under the bound, the count is skipped.
    val QuotientBound = 4000000L
    val nodes = grouped.queryExecution.analyzed.stats.rowCount
    val labelComp: DataFrame =
      if (nodes.exists(_ * numPartitions <= QuotientBound) ||
          qEdges.count() <= QuotientBound) {
        unionFind(qEdges.as[(Long, Long)].collect().iterator).toDF("__lbl", "__comp")
      } else {
        import org.apache.spark.graphx.Graph
        Graph.fromEdgeTuples(qEdges.rdd.map(r => (r.getLong(0), r.getLong(1))), 0)
          .connectedComponents().vertices.toDF("__lbl", "__comp")
      }

    val labeled = grouped
      .select(col("__id"), element_at(col("__ls"), 1).as("__lbl"))
      .join(labelComp, "__lbl")
      .select(col("__id"), col("__comp"))
    // materialized so the checkpointed prefix can be freed, and measured so
    // a caller's join plans from the component table's real size
    val out = graft.plans.measuredCheckpoint(labeled)
    // `out` is materialized — nothing reads `grouped` again, so its
    // node-sized checkpoint blocks are freed NOW instead of lingering for
    // the session lifetime (r15, ADVICE): long sessions cluster many times.
    Dedup.releaseCheckpoint(grouped)
    out
  }
}
