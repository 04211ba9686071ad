package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.{DataFrame, Dataset}

/**
 * Structured Streaming operators over the events schema. The reference has
 * no streaming at all (SURVEY §2.8) — this is the forward-looking surface a
 * Spark-native engine gets for free because the spatio-temporal columns are
 * ordinary longs/timestamps: the same `st_*`/dedup/raster expressions apply
 * unchanged to a `readStream` DataFrame.
 *
 * Batch/stream parity: each transform takes a DataFrame that may come from
 * `read` or `readStream`; only sinks differ. Tested with MemoryStream in
 * StreamingSpec.
 */
object EventStreams {

  /** Tumbling-window counts per event type with a watermark for state
    * cleanup — the canonical streaming aggregation. `ts` must be a
    * TimestampType column. */
  def windowedTypeCounts(events: DataFrame, watermark: String = "10 minutes",
                         window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))

  /** Per-key running session state via flatMapGroupsWithState: emits one row
    * per session when it times out (gap-based sessionization). */
  final case class SessionUpdate(user_id: Long, events: Long, firstTs: Long, lastTs: Long)
  final case class SessionState(events: Long, firstTs: Long, lastTs: Long)

  def sessionize(events: Dataset[(Long, Long)], gapMs: Long): Dataset[SessionUpdate] = {
    // inherently a STREAMING operator (the file-header batch/stream parity
    // covers the stateless transforms): in batch mode
    // flatMapGroupsWithState never fires timeouts, so every group would
    // silently return empty — refuse loudly instead. Sessions still open
    // when a stream ends are emitted on the next micro-batch after their
    // gap elapses; an idle stream holds them until then (the
    // ProcessingTimeTimeout contract).
    require(events.isStreaming,
      "sessionize is timeout-driven (flatMapGroupsWithState) and returns " +
      "nothing in batch mode — use a window-function gap analysis for batch")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(user, s.events, s.firstTs, s.lastTs))
          } else {
            val ts = rows.map(_._2).toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, Long.MaxValue, Long.MinValue))
            val next = SessionState(prev.events + ts.size,
              math.min(prev.firstTs, ts.min), math.max(prev.lastTs, ts.max))
            state.update(next)
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
      }
  }

  /** Streaming spatial filter: the same st_* predicates compose with
    * readStream — declarative parity between batch and stream. */
  def spatialFilter(events: DataFrame, predicate: org.apache.spark.sql.Column): DataFrame =
    events.filter(predicate)

  /**
   * Stream-static spatial join — enrich a stream of geometries with a
   * static region table (geofencing). The batch cell-replicate join
   * composes unchanged: explode-cells and the exact refine are stateless
   * per-row transforms, and the equi-join on cell id is a stream-static
   * inner join Spark executes per micro-batch (the static side's exploded
   * cells are planned once). No watermark or state store involved.
   */
  def spatialJoinStatic(stream: DataFrame, regions: DataFrame,
                        streamGeo: org.apache.spark.sql.Column,
                        regionGeo: org.apache.spark.sql.Column,
                        pred: graft.operators.JoinPredicate,
                        cellSize: Double): DataFrame =
    graft.operators.SpatialJoin.join(stream, regions, streamGeo, regionGeo,
      pred, cellSize)

  /**
   * Stream-STREAM spatio-temporal join: both sides are unbounded (e.g.
   * vehicle positions ⋈ incident reports), matched when the spatial
   * predicate holds AND their event times lie within `joinWindow` of each
   * other. The batch cell join ([[graft.operators.SpatialJoin.cellJoin]],
   * with the time-range conjuncts carried in its condition) composes with
   * Spark's stream-stream inner join: explode-cells is stateless, the
   * equi-join key is the cell id, and the time-range conjunct plus the two
   * watermarks bound the join state — rows older than watermark + window
   * are evicted, so state never grows with stream length (the condition
   * Spark requires to run an unbounded join at all).
   *
   * Both time columns must be TimestampType.
   */
  def spatialJoinStreamStream(left: DataFrame, right: DataFrame,
                              leftGeo: org.apache.spark.sql.Column,
                              rightGeo: org.apache.spark.sql.Column,
                              pred: graft.operators.JoinPredicate,
                              cellSize: Double,
                              leftTsCol: String, rightTsCol: String,
                              watermark: String = "10 minutes",
                              joinWindow: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    graft.operators.SpatialJoin.cellJoin(l, r,
      pred.apply(leftGeo, rightGeo) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $joinWindow") &&
        r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $joinWindow"),
      cellSize)
  }

  /** Streaming exact dedup on a content fingerprint — the streaming twin of
    * [[graft.operators.Dedup.exact]]. `dropDuplicatesWithinWatermark` keeps
    * the dedup state bounded by the watermark horizon instead of growing
    * forever; duplicates arriving inside the horizon are dropped, the first
    * occurrence streams through unchanged. `ts` must be TimestampType. */
  def dedupExact(docs: DataFrame, textCol: org.apache.spark.sql.Column,
                 watermark: String = "10 minutes"): DataFrame = {
    require(!docs.columns.exists(_.equalsIgnoreCase("__content_hash")),
      "dedupExact: input must not contain a column named __content_hash")
    docs
      .withColumn("__content_hash", md5(textCol.cast("binary")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")
  }

  /**
   * Shared landing scaffold of the three store-gated ingest queries: run
   * `filter` on each micro-batch and write the survivors to
   * `outPath/batch_id=<n>` with overwrite — a retried micro-batch rewrites
   * its own directory instead of appending duplicates, making the sink
   * exactly-once (readers see the extra `batch_id` partition column,
   * useful provenance anyway). Filter state lives in the STORE, not the
   * query — no streaming aggregation state, and a store refresh (after
   * compacting accepted batches into it) picks up on the next micro-batch
   * automatically. `filter` must resolve columns BY NAME: each micro-batch
   * is a fresh DataFrame with its own attribute ids, so a Column resolved
   * against the streaming plan (`docs("id")`) would fail analysis there.
   */
  private def landFiltered(docs: DataFrame, outPath: String, checkpoint: String)
                          (filter: DataFrame => DataFrame)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        filter(batch).write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .start()

  /**
   * Ingest-time BM25 relevance gate: score each incoming document against
   * `terms` using the FROZEN statistics of a persisted
   * [[graft.operators.TextSearch.buildTextIndex]] store (N, Σdl, per-term
   * df read once at plan time) — the serving semantic: scores stay
   * comparable across micro-batches until the index is rebuilt, unlike a
   * per-batch recount which would drift with batch composition. Adds
   * `score_e8` (the exact-integer score, identical to the batch modes for
   * the same statistics); rows scoring ≤ `minScoreE8` are dropped when a
   * threshold is given.
   *
   * Stateless codegen'd projection — no watermark, no aggregation state,
   * works on `read` and `readStream` alike.
   */
  def scoreBm25Indexed(docs: DataFrame, textColName: String, indexPath: String,
                       terms: Seq[String], minScoreE8: Option[Long] = None): DataFrame = {
    val (n, s, dfs) = graft.operators.TextSearch
      .frozenStats(docs.sparkSession, indexPath, terms)
    val scored = docs.withColumn("score_e8",
      graft.operators.TextSearch.frozenScoreExpr(
        col(textColName), terms, lit(n), lit(s), dfs.map(lit(_))))
    minScoreE8.fold(scored)(t => scored.filter(col("score_e8") > t))
  }

  /** Hard cap on the LM-store rows [[scoreFluencyIndexed]] will collect to
    * the driver (unigrams + bigrams combined). ~4M rows of short strings +
    * longs is a few hundred MB of driver heap — the sensible ceiling for a
    * broadcast gate. A store past the cap fails loudly (one cheap count
    * job) instead of OOMing the driver mid-stream. */
  val FluencyBroadcastBound: Long = 4000000L

  /**
   * Ingest-time fluency gate: score each incoming document with a FROZEN
   * [[graft.operators.TextAnalysis.buildLmStore]] bigram model. The count
   * tables are collected once at plan time and broadcast (vocabulary-sized
   * — the executor-memory bound; corpus-sized batches should use the
   * join-based `withBigramFluencyIndexed` instead), so scoring is a
   * stateless per-row UDF — no streaming aggregation state, identical
   * integer scores to the batch modes.
   */
  def scoreFluencyIndexed(docs: DataFrame, textColName: String,
                          lmPath: String,
                          maxBroadcastRows: Long = FluencyBroadcastBound): DataFrame = {
    val spark = docs.sparkSession
    // layout-agnostic: flat stores read the sidecar, segmented stores fold
    // their count segments (TextAnalysis.loadLmModel)
    val (v, uniDf, biDf) = graft.operators.TextAnalysis.loadLmModel(spark, lmPath)
    val storeRows = uniDf.count() + biDf.count()
    require(storeRows <= maxBroadcastRows,
      s"scoreFluencyIndexed broadcasts the whole LM store to the driver; " +
      s"store at $lmPath has $storeRows rows > cap $maxBroadcastRows. " +
      "For corpus-scale models use TextAnalysis.withBigramFluencyIndexed " +
      "(join-based, no driver materialization) on the batch side, or " +
      "EventStreams.scoreFluencyJoined — the same join-based scorer " +
      "composed per micro-batch via foreachBatch — on the streaming side.")
    val uni = uniDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = biDf.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bcU = spark.sparkContext.broadcast(uni)
    val bcB = spark.sparkContext.broadcast(bi)
    val score = org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) (0L, 0L)
      else {
        val ws = text.split(" ", -1)
        var i = 0; var ts = BigInt(0); var nb = 0L
        while (i < ws.length - 1) {
          val b = bcB.value.getOrElse((ws(i), ws(i + 1)), 0L)
          val u = bcU.value.getOrElse(ws(i), 0L)
          ts += (BigInt(b + 1) * 1000000) / BigInt(u + v)
          nb += 1; i += 1
        }
        (nb, if (nb == 0) 0L else (ts / nb).toLong)
      }
    }
    docs.withColumn("__fl", score(org.apache.spark.sql.functions.col(textColName)))
      .withColumn("n_bigrams", org.apache.spark.sql.functions.col("__fl._1"))
      .withColumn("fluency_e6", org.apache.spark.sql.functions.col("__fl._2"))
      .drop("__fl")
  }

  /**
   * The OVER-CAP streaming fluency route: when the LM store exceeds
   * [[FluencyBroadcastBound]] (so [[scoreFluencyIndexed]] correctly
   * refuses to broadcast it), score each micro-batch through the
   * JOIN-based [[graft.operators.TextAnalysis.withBigramFluencyIndexed]]
   * inside foreachBatch — the count joins stay token-keyed equi-joins
   * against the distributed vocabulary tables, nothing is ever collected
   * to the driver, and the integer scores are identical to both batch
   * modes. Each micro-batch OVERWRITES its own `batch_id=` output
   * partition (replay-safe by layout, the house sink contract). The
   * trade: one join stage per micro-batch instead of a broadcast map —
   * the right price once the model is corpus-scale. `minFluencyE6`
   * optionally gates rows before the write.
   */
  def scoreFluencyJoined(docs: DataFrame, idColName: String,
                         textColName: String, lmPath: String,
                         outPath: String, checkpoint: String,
                         minFluencyE6: Option[Long] = None)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.operators.TextAnalysis.withBigramFluencyIndexed(
          batch, col(idColName), col(textColName), lmPath)
        minFluencyE6.fold(scored)(t => scored.filter(col("fluency_e6") >= t))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .start()

  /**
   * [[scoreFluencyJoined]]'s trigram twin: stupid-backoff scoring of each
   * arriving micro-batch against a FROZEN trigram-capable LM store
   * ([[graft.operators.TextAnalysis.withTrigramFluencyIndexed]] — the
   * same five count joins as batch, so scores are identical to the batch
   * scorer on the same rows). Join-based by design: the trigram table is
   * a strict superset of the bigram table's key space, so the broadcast
   * route's row cap would bind even sooner here — per-batch output lands
   * in its own `batch_id=` partition, replay-safe by layout.
   */
  def scoreFluency3Joined(docs: DataFrame, idColName: String,
                          textColName: String, lmPath: String,
                          outPath: String, checkpoint: String,
                          minFluencyE6: Option[Long] = None)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.operators.TextAnalysis.withTrigramFluencyIndexed(
          batch, col(idColName), col(textColName), lmPath)
        minFluencyE6.fold(scored)(t => scored.filter(col("fluency3_e6") >= t))
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .start()

  /**
   * Ingest-time DSIR gate: score each incoming document against a FROZEN
   * [[graft.operators.Pipeline.buildDsirStore]] model — the data-selection
   * twin of [[scoreBm25Indexed]]/[[scoreFluencyIndexed]]. The bucket-ratio
   * table is ≤ `buckets` rows BY CONSTRUCTION (the hash bounds it — no
   * vocabulary-sized collect risk, unlike the LM store), so it broadcasts
   * and scoring is a stateless per-row UDF with integer scores identical
   * to [[graft.operators.Pipeline.dsirScoresIndexed]] for the same store.
   * Adds `dsir_score_e6`; rows scoring < `minScoreE6` are dropped when a
   * threshold is given. Works on `read` and `readStream` alike.
   */
  def scoreDsirIndexed(docs: DataFrame, textColName: String, storePath: String,
                       minScoreE6: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    // layout-agnostic: flat ratio stores or segmented count stores
    // (Pipeline.loadDsirModel); the table is bucket-bounded either way
    val (buckets, default, ratioDf) =
      graft.operators.Pipeline.loadDsirModel(spark, storePath)
    val ratios = ratioDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(ratios)
    val score = org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) 0L
      else {
        def bucket(f: String): Long = java.lang.Math.floorMod(
          graft.functions.TextOps.hashUtf8(
            org.apache.spark.unsafe.types.UTF8String.fromString(f), 42L),
          buckets.toLong)
        val ws = text.split(" ", -1)
        var s = BigInt(0)
        var i = 0
        while (i < ws.length) {
          s += BigInt(bc.value.getOrElse(bucket(ws(i)), default))
          if (i < ws.length - 1)
            s += BigInt(bc.value.getOrElse(bucket(ws(i) + " " + ws(i + 1)), default))
          i += 1
        }
        s.toLong
      }
    }
    val scored = docs.withColumn("dsir_score_e6",
      score(org.apache.spark.sql.functions.col(textColName)))
    minScoreE6.fold(scored)(t => scored.filter(col("dsir_score_e6") >= t))
  }

  /**
   * Ingest-time near-dup gate: each micro-batch is filtered against a
   * frozen [[graft.operators.Dedup.buildMinhashStore]] corpus — incoming
   * documents with n-gram Jaccard >= p/q to ANY accepted document are
   * dropped before landing. The fuzzy twin of [[ingestDropSeenSpans]];
   * per-batch work is the bounded band equi-join + exact refine, so state
   * never accumulates in the stream itself.
   */
  def ingestDropNearDups(docs: DataFrame, idColName: String,
                         textColName: String, storePath: String,
                         outPath: String, checkpoint: String,
                         p: Int = 4, q: Int = 5)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Dedup
        .dropSeenNearDups(batch, col(idColName), col(textColName), storePath, p, q))

  /**
   * Ingest-time EMBEDDING near-dup gate: each micro-batch is filtered
   * against a frozen [[graft.operators.Dedup.buildCosineLshStore]] corpus —
   * incoming vectors with cosine >= `threshold` to ANY stored vector are
   * dropped before landing. The embedding twin of [[ingestDropNearDups]];
   * per-batch work is the bounded bucket equi-join + exact cosine confirm.
   */
  def ingestDropSeenCosine(docs: DataFrame, idColName: String,
                           vecColName: String, storePath: String,
                           outPath: String, checkpoint: String,
                           threshold: Double)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Dedup
        .dropSeenCosine(batch, col(idColName), col(vecColName), storePath, threshold))

  /**
   * Streaming point classification against a FROZEN DBSCAN clustering —
   * the streaming twin of [[graft.operators.DBSCAN.predictStored]]
   * (reference DBScanModel.predict's intended use: assign arriving points
   * to an existing clustering). Each micro-batch runs the batch kernel —
   * a stateless cell-explode + equi-join against the stored core points
   * with the model's own eps — and lands `(id, cluster_id)` rows
   * (cluster_id −1 = noise). No streaming aggregation state: the
   * nearest-core min folds inside the batch, and the model is the only
   * (static) state, so scores are identical to the batch mode and stable
   * across batches until the model is retrained.
   */
  def classifyDbscan(points: DataFrame, idColName: String, xColName: String,
                     yColName: String, modelPath: String,
                     outPath: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(points, outPath, checkpoint)(batch =>
      graft.operators.DBSCAN.predictStored(batch.sparkSession, modelPath,
        batch, col(idColName), col(xColName), col(yColName)))

  /**
   * Streaming kNN join against a FROZEN persisted spatial index
   * ([[graft.sources.IndexStore]] trees): each arriving point picks up
   * its k nearest stored neighbors per micro-batch — the geo-enrichment
   * serving shape (nearest stations/POIs for a sensor stream). Stateless
   * like every frozen-store gate: per batch it runs the stored-tree
   * expand-radius probe, results identical to the batch
   * [[graft.sources.IndexStore.knnJoin]] on the same rows.
   */
  def knnJoinStored(points: DataFrame, geomColName: String, idColName: String,
                    indexPath: String, k: Int, outPath: String,
                    checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(points, outPath, checkpoint)(batch =>
      graft.sources.IndexStore.knnJoin(batch, indexPath, geomColName,
        idColName, k))

  /**
   * The n-dimensional twin of [[classifyDbscan]]: classify an arriving
   * VECTOR stream against a frozen
   * [[graft.operators.DBSCAN.saveModelVec]] clustering — per micro-batch,
   * same frozen-model semantics, dims/eps from the store.
   */
  def classifyDbscanVec(points: DataFrame, idColName: String,
                        vecColName: String, modelPath: String,
                        outPath: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(points, outPath, checkpoint)(batch =>
      graft.operators.DBSCAN.predictVecStored(batch.sparkSession, modelPath,
        batch, col(idColName), col(vecColName)))

  /**
   * Streaming ANN serve from a FROZEN IVF-NSW store
   * ([[graft.operators.Similarity.buildNswIndex]]): each micro-batch of
   * query vectors gets its euclidean top-k from the persisted per-cell
   * graphs — the same deterministic beam walk as the batch reader, so
   * streamed answers equal the batch call for the same store, and
   * tombstoned ids (takedowns landing between batches) drop from results
   * without a rebuild. Same exactly-once landing as every serve gate.
   */
  def annTopKNsw(queries: DataFrame, idColName: String, vecColName: String,
                 storePath: String, k: Int, nprobe: Int, efSearch: Int,
                 outPath: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(queries, outPath, checkpoint)(batch =>
      graft.operators.Similarity.nswTopKIndexed(batch, storePath,
        col(idColName), col(vecColName), k, nprobe, efSearch))

  /**
   * Streaming per-entity as-of enrich against a FROZEN right table —
   * the dimension-snapshot join every event pipeline runs (event →
   * the SAME KEY's latest profile/quote/config at or before the event
   * time, within `maxLookback`): each micro-batch goes through the
   * batch [[graft.operators.TemporalJoin.asOfKeyed]] kernel against
   * the static right, so streamed answers equal the batch call on the
   * same rows (StreamingSpec pins it) and inherit its density
   * independence — no per-key state in the stream, the right side is
   * re-read per batch (frozen-store contract: swap via the staged-swap
   * marker, not in place). Same exactly-once landing as every gate.
   * `outer = true` lands every event (unmatched ones null-enriched —
   * the pipeline shape that must not DROP events it cannot enrich).
   */
  def enrichAsOfKeyed(events: DataFrame, right: DataFrame, idColName: String,
                      keyColName: String, rightKeyColName: String,
                      tsColName: String, rightTsColName: String,
                      maxLookback: Long, tieBreakColName: String,
                      outPath: String, checkpoint: String,
                      outer: Boolean = false)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(events, outPath, checkpoint)(batch =>
      graft.operators.TemporalJoin.asOfKeyed(batch, right, idColName,
        col(keyColName), col(rightKeyColName), col(tsColName),
        col(rightTsColName), maxLookback, col(tieBreakColName), outer))

  /**
   * Stream-STREAM as-of enrich — BOTH sides live (the shape every
   * real-time event pipeline needs next: enrich each click with the same
   * user's latest quote, both streams unbounded). Each left event pairs
   * with the single LATEST right event of the SAME key at or before its
   * event time, within `maxLookbackMs` (strict: rT > lT − lookback) —
   * the streaming twin of [[graft.operators.TemporalJoin.asOfKeyed]],
   * which remains the batch oracle: for feeds the watermark admits, the
   * streamed output equals the batch kernel over the union'd rows
   * (StreamingSpec pins it, in-order and cross-batch).
   *
   * State (the part Spark's stream-stream joins cannot express — their
   * interval join keeps BOTH sides buffered; an as-of needs only rights):
   * per key, the rights still inside the horizon — every right newer
   * than the watermark plus the single latest right at-or-before it
   * (that one dominates all older rights for every admissible future
   * left, since admissible lefts have lT ≥ watermark), further pruned by
   * the lookback (a right at or below watermark − lookback can never
   * pass the strict lower bound again). Bounded by per-key right-stream
   * density over the watermark+lookback horizon — the same bound
   * stream-stream interval joins pay, minus the left buffer. The whole
   * key evicts via EventTimeTimeout once the watermark passes its last
   * right's lookback horizon.
   *
   * Late-data contract (documented, spec-pinned): a left older than the
   * current watermark is DROPPED (even in outer mode — the same
   * admission rule Spark applies to watermarked stateful operators); a
   * late right cannot retro-enrich lefts emitted in EARLIER batches
   * (append sinks are immutable), but same-batch out-of-order rows
   * enrich exactly (each batch folds into the sorted buffer before any
   * left is answered, so intra-batch arrival order never matters).
   *
   * `emitMode` picks the latency/exactness point on that contract:
   *  - `"eager"` (default): a left is answered IN ITS ARRIVAL BATCH
   *    against the rights that have arrived so far — minimum latency,
   *    but a right that is merely DELAYED (arrives in a later batch,
   *    not yet late) misses lefts already emitted.
   *  - `"final"`: lefts wait in state until the watermark passes their
   *    event time, so every right the watermark can still admit has
   *    been folded in when the left is answered — the streamed output
   *    equals the batch [[graft.operators.TemporalJoin.asOfKeyed]] for
   *    ARBITRARY arrival order and batch placement (all lefts first,
   *    rights a batch later, shuffled — StreamingSpec pins it), at the
   *    cost of one watermark delay of latency. Rights older than the
   *    watermark still fold into the buffer: they can only improve a
   *    PENDING left's answer (emitted rows are already final), moving
   *    the result toward the batch one. State additionally holds the
   *    pending lefts of the key (bounded by per-key left density over
   *    one watermark delay); emission is driven by the same event-time
   *    timeout, so a quiet key still flushes when the watermark moves.
   *    A left at the stream's final watermark front never emits until
   *    the watermark passes it — feed a sentinel row past the end (the
   *    standard watermark-closing idiom) to drain a finite replay.
   *
   * Keys group by their STRING form (cast) — pass a single atomic key
   * column with an injective string form (long/int/string — the events
   * schema); NULL-keyed/timed rights match nothing, NULL-keyed/timed
   * lefts drop (inner) or re-enter null-enriched (outer, bypassing the
   * stateful operator entirely). `tieBreakColName` (right side, cast to
   * long) breaks exact time ties largest-wins — the batch kernel's
   * (rTime, tieBreak)-uniqueness contract. Both ts columns must be
   * TimestampType (the watermark currency) with post-epoch values.
   * Output = left.* ++ right.* — the sides must not share column names
   * (the outer bypass resolves by name, same rule as the batch outer).
   */
  def asOfStreamStream(left: DataFrame, right: DataFrame,
                       leftKeyColName: String, rightKeyColName: String,
                       leftTsColName: String, rightTsColName: String,
                       maxLookbackMs: Long, tieBreakColName: String,
                       watermarkDelay: String,
                       outer: Boolean = false,
                       emitMode: String = "eager"): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Encoders, Row}
    import scala.collection.mutable.ArrayBuffer
    require(maxLookbackMs > 0, s"maxLookbackMs must be positive, got $maxLookbackMs")
    require(emitMode == "eager" || emitMode == "final",
      s"asOfStreamStream: emitMode must be 'eager' or 'final', got '$emitMode'")
    val finalMode = emitMode == "final"
    Seq((left, leftTsColName), (right, rightTsColName)).foreach { case (df, c) =>
      require(df.schema(c).dataType == TimestampType,
        s"asOfStreamStream: $c must be TimestampType (the watermark " +
        s"currency), got ${df.schema(c).dataType.simpleString}")
    }
    val shared = left.columns.map(_.toLowerCase)
      .intersect(right.columns.map(_.toLowerCase))
    require(shared.isEmpty,
      s"asOfStreamStream: left and right share column name(s) " +
      s"${shared.mkString(", ")} — rename one side (output carries both)")
    Seq(left, right).foreach(df =>
      require(!df.columns.exists(_.toLowerCase.startsWith("__as_")),
        "asOfStreamStream: input must not contain __as_* columns"))

    val lv = struct(left.columns.map(col): _*)
    val rv = struct(right.columns.map(col): _*)
    val lvType = left.select(lv).schema.head.dataType
    val rvType = right.select(rv).schema.head.dataType
    // unified layout (fixed ordinals): 0 __as_k, 1 __as_ts, 2 __as_t,
    // 3 __as_g, 4 __as_tb, 5 __as_lv, 6 __as_rv
    val rPack = right.withWatermark(rightTsColName, watermarkDelay)
      .filter(col(rightKeyColName).isNotNull && col(rightTsColName).isNotNull)
      .select(col(rightKeyColName).cast("string").as("__as_k"),
        col(rightTsColName).as("__as_ts"),
        unix_micros(col(rightTsColName)).as("__as_t"),
        lit(0).as("__as_g"),
        col(tieBreakColName).cast("long").as("__as_tb"),
        lit(null).cast(lvType).as("__as_lv"),
        rv.as("__as_rv"))
    val lPack = left.withWatermark(leftTsColName, watermarkDelay)
      .filter(col(leftKeyColName).isNotNull && col(leftTsColName).isNotNull)
      .select(col(leftKeyColName).cast("string").as("__as_k"),
        col(leftTsColName).as("__as_ts"),
        unix_micros(col(leftTsColName)).as("__as_t"),
        lit(1).as("__as_g"),
        lit(null).cast("long").as("__as_tb"),
        lv.as("__as_lv"),
        lit(null).cast(rvType).as("__as_rv"))
    val uni = rPack.unionByName(lPack)

    val entryType = StructType(Seq(
      StructField("t", LongType, nullable = false),
      StructField("tb", LongType, nullable = true),
      StructField("rv", rvType, nullable = true)))
    val leftEntryType = StructType(Seq(
      StructField("t", LongType, nullable = false),
      StructField("lv", lvType, nullable = true)))
    val stateSchema = StructType(Seq(
      StructField("rights", ArrayType(entryType, containsNull = false),
        nullable = true),
      // final mode only: the key's lefts still waiting for the watermark
      StructField("lefts", ArrayType(leftEntryType, containsNull = false),
        nullable = true)))
    val outSchema = StructType(left.schema.fields ++
      right.schema.fields.map(f => if (outer) f.copy(nullable = true) else f))
    val lookbackUs = maxLookbackMs * 1000L
    val lookbackMs = maxLookbackMs
    val nRight = right.columns.length

    val func = (_: String, it: Iterator[Row], state: GroupState[Row]) => {
      val wmMs = state.getCurrentWatermarkMs()
      val wmUs = wmMs * 1000L
      if (state.hasTimedOut && !finalMode) {
        // eager: the watermark passed the last right's lookback horizon —
        // nothing buffered can enrich an admissible left again
        state.remove()
        Iterator.empty[Row]
      } else {
        // final mode runs the SAME body on a timeout invocation (empty
        // batch): the watermark moved, so pending lefts may now be due
        val prevR: Seq[Row] = state.getOption
          .flatMap(r => Option(r.getSeq[Row](0))).getOrElse(Seq.empty)
        val prevL: Seq[Row] = if (!finalMode) Seq.empty else state.getOption
          .flatMap(r => Option(r.getSeq[Row](1))).getOrElse(Seq.empty)
        val batch = it.toArray
        def tbOf(r: Row): Long = if (r.isNullAt(1)) Long.MinValue else r.getLong(1)
        // fold this batch's rights into the sorted buffer FIRST — every
        // left is answered against all rights the watermark admitted, so
        // intra-batch arrival order never matters. Rights behind the
        // watermark fold too: they can only improve an answer that is
        // not yet final (eager: this batch's lefts; final: any pending
        // left), never change an emitted one.
        val buf = (prevR ++ batch.iterator.filter(_.getInt(3) == 0).map(r =>
            Row(r.getLong(2), if (r.isNullAt(4)) null else java.lang.Long.valueOf(r.getLong(4)),
              r.getStruct(6))))
          .sortBy(r => (r.getLong(0), tbOf(r))).toArray
        // last buffer index with t <= bound (exclusive upper of the
        // binary search), or -1
        def lastAtOrBefore(bound: Long): Int = {
          var lo = 0; var hi = buf.length
          while (lo < hi) {
            val m = (lo + hi) >>> 1
            if (buf(m).getLong(0) <= bound) lo = m + 1 else hi = m
          }
          lo - 1
        }
        val out = new ArrayBuffer[Row]
        def answer(lT: Long, lv: Row): Unit = {
          val bi = lastAtOrBefore(lT)
          val ok = bi >= 0 && buf(bi).getLong(0) > lT - lookbackUs
          if (ok)
            out += Row.fromSeq(lv.toSeq ++ buf(bi).getStruct(2).toSeq)
          else if (outer)
            out += Row.fromSeq(lv.toSeq ++ Seq.fill(nRight)(null))
        }
        // late-left drop (the admission contract) applies in both modes
        val admitted = batch.iterator.filter(_.getInt(3) == 1)
          .filter(_.getLong(2) >= wmUs)
        var still: Array[Row] = Array.empty
        if (!finalMode) {
          admitted.foreach(l => answer(l.getLong(2), l.getStruct(5)))
        } else {
          // a pending left is DUE once the watermark strictly passes its
          // event time: no right at-or-before it can be admitted again,
          // so its answer is the batch answer — emit exactly once
          val pending = prevL ++ admitted.map(l => Row(l.getLong(2), l.getStruct(5)))
          val (due, wait) = pending.partition(_.getLong(0) < wmUs)
          due.sortBy(_.getLong(0)).foreach(l => answer(l.getLong(0), l.getStruct(1)))
          still = wait.toArray
        }
        // prune: keep the latest right at-or-before the watermark plus
        // everything after it, minus rights the lookback already retired
        // (pending lefts all have t ≥ watermark, so the same prune is
        // sufficient for them)
        val from = math.max(lastAtOrBefore(wmUs), 0)
        val kept = buf.drop(from).filter(_.getLong(0) > wmUs - lookbackUs)
        if (kept.isEmpty && still.isEmpty) state.remove()
        else {
          state.update(Row(kept.toSeq, if (finalMode) still.toSeq else null))
          // wake when the watermark can next change this key's fate:
          // the earliest pending left's emission instant, or the last
          // right's lookback horizon (eager eviction / final give-up)
          val rightsHorizon =
            if (kept.isEmpty) Long.MaxValue
            else kept.last.getLong(0) / 1000L + lookbackMs
          val leftHorizon =
            if (still.isEmpty) Long.MaxValue
            else still.iterator.map(_.getLong(0)).min / 1000L
          state.setTimeoutTimestamp(
            math.max(math.min(rightsHorizon, leftHorizon), wmMs + 1))
        }
        out.iterator
      }
    }

    val enriched = uni.groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(func)(
        Encoders.row(stateSchema), Encoders.row(outSchema))
    if (!outer) enriched.toDF()
    else {
      // NULL-keyed/timed lefts can never match — they bypass the stateful
      // operator entirely and re-enter null-enriched (outer totality)
      val nullRights = right.schema.fields.map(f =>
        lit(null).cast(f.dataType).as(f.name))
      enriched.toDF().unionByName(
        left.filter(col(leftKeyColName).isNull || col(leftTsColName).isNull)
          .select(left.columns.map(col) ++ nullRights: _*))
    }
  }

  /**
   * Streaming distinct-count registers per event-time window: the HLL
   * register aggregation ([[graft.operators.Sketches.hllRegisters]]
   * kernel) grouped by a tumbling window under a watermark — "distinct
   * users/pages per hour" over an unbounded stream with state bounded by
   * open windows × 2^p register rows, never by the number of distinct
   * values seen (the whole reason to sketch a stream: exact streaming
   * distinct would hold every value in state until the watermark closes).
   *
   * Emits (win struct, bucket, rho) register rows; estimate downstream
   * with `Sketches.hllEstimateBy` over the window start (a second
   * streaming aggregation is not composable — estimation is a batch-side
   * fold of m rows per window). Registers of a CLOSED window equal the
   * batch [[graft.operators.Sketches.hllRegisters]] over that window's
   * rows exactly (max is order- and replay-insensitive).
   */
  def windowedDistinctHll(events: DataFrame, tsColName: String,
                          valueColName: String, windowDur: String,
                          watermarkDelay: String, pBits: Int = 10,
                          salt: String = "hll"): DataFrame = {
    val (bucket, rho) = graft.operators.Sketches
      .hllBucketRho(col(valueColName), pBits, salt)
    events.withWatermark(tsColName, watermarkDelay)
      .groupBy(window(col(tsColName), windowDur).as("win"), bucket.as("bucket"))
      .agg(max(rho).as("rho"))
  }

  /**
   * Streaming trending heavy hitters per event-time window: the CMS
   * counter aggregation ([[graft.operators.Sketches.cmsCounters]] cell
   * arithmetic) grouped by a tumbling window under a watermark — "which
   * keys dominate this hour" with state bounded by open windows ×
   * depth·width counter rows, never by the key cardinality. Each event
   * explodes into `depth` cells directly (the batch operator's
   * per-key pre-aggregation would need a second streaming aggregation,
   * which Spark disallows — the counters produced are identical).
   *
   * Emits (win struct, row, col, cnt) counter rows; rank candidates
   * downstream with `Sketches.cmsEstimate` over a closed window's slice —
   * estimates equal the batch sketch for the same rows, and overcount
   * only.
   */
  def windowedTrendingCms(events: DataFrame, tsColName: String,
                          keyColName: String, windowDur: String,
                          watermarkDelay: String, depth: Int = 4,
                          width: Int = 2048, salt: String = "cms"): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    events.withWatermark(tsColName, watermarkDelay)
      .select(col(tsColName), explode(graft.operators.Sketches
        .cmsCells(col(keyColName).cast("string"), depth, width, salt)).as("rc"))
      .groupBy(window(col(tsColName), windowDur).as("win"),
        col("rc.row").as("row"), col("rc.col").as("col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Streaming corpus telemetry: persist each micro-batch's OWN sketch
   * rows — HLL registers (distinct `valueColName` per `groupColName`) and
   * CMS token counters — under `batch_id=<n>` partitions, the same
   * exactly-once mechanism as the landing sinks: a RETRIED micro-batch
   * overwrites its own partition instead of double-merging, so replay
   * safety needs no markers and no read-modify-write of shared state
   * (which a crash mid-rewrite could destroy). Per-batch work and storage
   * are sketch-sized (≤ groups·2^p + depth·width rows per batch).
   *
   * Readers fold the partitions through
   * [[graft.operators.Sketches.readHllStore]] /
   * [[graft.operators.Sketches.readCmsStore]] — the fold IS the sketch's
   * merge (max / sum over sketch-sized rows), so reading stays cheap at
   * any batch count; compact old partitions into one with
   * `mergeIntoHllStore`-style batch jobs if millions of micro-batches
   * accumulate.
   */
  def ingestSketchStores(docs: DataFrame, groupColName: String,
                         valueColName: String, hllPath: String,
                         cmsPath: String, checkpoint: String,
                         pBits: Int = 10, depth: Int = 4, width: Int = 2048)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    // layout guard: a FLAT store (root-level _SUCCESS from buildHllStore /
    // mergeIntoHllStore) cannot take batch_id= subdirectories — partition
    // discovery would reject the mix and the flat history would sit in no
    // partition. Fail at stream construction with the migration step
    // instead of corrupting the store on the first micro-batch.
    val hconf = docs.sparkSession.sparkContext.hadoopConfiguration
    Seq(hllPath, cmsPath).foreach { p =>
      val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      require(!marker.getFileSystem(hconf).exists(marker),
        s"ingestSketchStores: $p holds a FLAT sketch store; move its rows " +
        s"into a partition first (e.g. rewrite to $p/batch_id=-1) so the " +
        "streaming batch_id= layout can append beside the history")
    }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches
          .hllRegisters(batch, col(groupColName), col(valueColName), pBits)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$hllPath/batch_id=$batchId")
        graft.operators.Sketches
          .cmsCounters(batch.select(explode(split(col(valueColName), " ")).as("__tok")),
            col("__tok"), lit(1L), depth, width)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$cmsPath/batch_id=$batchId")
        ()
      }
      .start()
  }

  /**
   * Streaming ingest against a persisted span store — the streaming twin
   * of [[graft.operators.Dedup.dropSeenSpans]]: each micro-batch drops
   * documents sharing >= `minOverlap` spans with the store (Bloom
   * prefilter + exact confirm join run inside the batch function). The
   * store is read per micro-batch but its Bloom sidecar probe is map-side,
   * so per-batch cost scales with the batch's overlap, not the store.
   */
  def ingestDropSeenSpans(docs: DataFrame, idColName: String,
                          textColName: String, k: Int,
                          storePath: String, outPath: String,
                          checkpoint: String, minOverlap: Int = 1)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Dedup
        .dropSeenSpans(batch, col(idColName), col(textColName), k, storePath, minOverlap))

  /**
   * Streaming ingest into the [[graft.sources.CellStore]] layout: the
   * native parquet streaming sink partitioned by the SAME cell (and
   * optional time-bucket) directory keys the batch `save` writes, so a
   * live event feed lands directly in the declaratively-prunable store —
   * a later `spark.read.parquet(path)` + `st_*` predicate prunes cell and
   * time directories through `CellPruneRule` with no explicit ranges, and
   * the `_spark_metadata` log gives readers exactly-once batch visibility.
   *
   * The sidecar is written up front (append mode never clears the
   * directory). Micro-batches append one file per task per touched
   * partition — the streaming trade; compact cold time buckets with a
   * periodic batch `save` over the frozen range if small files accumulate
   * (time-bucketed layouts make that a per-bucket, not whole-store, job).
   */
  def ingestCellStore(events: DataFrame, xCol: org.apache.spark.sql.Column,
                      yCol: org.apache.spark.sql.Column, cellSize: Double,
                      path: String, checkpoint: String,
                      geomCol: Option[String] = None,
                      tCol: Option[org.apache.spark.sql.Column] = None,
                      timeBucket: Long = 0L)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    // same declared-geometry validation as the batch save: an unchecked
    // geomCol name would be recorded in the sidecar and CellPruneRule
    // would prune on the (x, y) grid for predicates over a column that is
    // NOT the stored point — silently wrong results
    geomCol.foreach(g => require(events.columns.exists(_.equalsIgnoreCase(g)),
      s"ingestCellStore: geomCol '$g' is not a column of the input"))
    val (keyed, partCols) = graft.sources.CellStore.cellKeyed(
      events, xCol, yCol, cellSize, tCol, timeBucket)
    graft.sources.CellStore.writeSidecar(
      events, path, xCol, yCol, cellSize, geomCol, tCol, timeBucket)
    keyed.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partCols: _*)
      .start()
  }

  /**
   * Ingest-time linear-classifier gate: score each arriving document with
   * a FROZEN [[graft.operators.Classifier]] model store. The model is ≤
   * dim ≤ [[graft.operators.Classifier.MaxDim]] rows by construction, so
   * the dense-broadcast scoring is a stateless per-row pass — no streaming
   * aggregation state, margins identical to the batch scorer. Calibrate
   * `tauE6` at train time (typically
   * [[graft.operators.Classifier.meanPolarityE6]] of the stored model, the
   * operational freeze-at-train contract).
   */
  def classifyLinear(docs: DataFrame, textColName: String, modelPath: String,
                     dim: Int = -1,
                     tauE6: Long = 0L): DataFrame = {
    // dim is frozen in the store's params sidecar at train time; scoring
    // under any other dim hashes features with a different mask than
    // training and silently yields wrong margins. Default (-1) = use the
    // stored dim; an explicitly passed dim must match it. Stores predating
    // the sidecar carry no frozen dim — there an EXPLICIT caller dim wins
    // (the caller is the only record of the legacy training dim; re-save
    // via Classifier.saveModel to freeze it), else DefaultDim.
    val spark = docs.sparkSession
    val d =
      if (graft.sources.Sidecar.exists(spark, modelPath + "/_graft_clf_params")) {
        val stored = graft.operators.Classifier.storedDim(spark, modelPath)
        require(dim == -1 || dim == stored,
          s"classifyLinear: caller dim $dim != training dim $stored frozen in " +
          s"$modelPath/_graft_clf_params — score at the stored dim (omit dim)")
        stored
      } else if (dim > 0) dim
      else graft.operators.Classifier.DefaultDim
    val model = graft.operators.Classifier.loadModel(spark, modelPath)
    graft.operators.Classifier.scoreWith(docs, col(textColName), model, d, tauE6)
  }

  /**
   * Streaming decontamination gate: drop arriving documents whose key
   * might be in a FROZEN Bloom store (benchmark/eval fingerprints built
   * and merged batch-side). Stateless — the word table is ≤ mBits/64 rows
   * broadcast into [[graft.operators.Sketches.bloomMightContain]]'s k
   * map-side joins, so there is no streaming aggregation state and the
   * kept set is identical to the batch [[graft.operators.Sketches.bloomGate]]
   * over the same store. `mBits`/`k`/`salt` must match the store's build
   * parameters (they define the bit space).
   */
  def decontaminateBloom(docs: DataFrame, keyColName: String, storePath: String,
                         mBits: Long, k: Int, salt: String = "bloom"): DataFrame = {
    val words = graft.operators.Sketches.readBloomStore(docs.sparkSession, storePath)
    graft.operators.Sketches.bloomGate(docs, col(keyColName), words, mBits, k, salt)
  }

  /**
   * Streaming Bloom-store ingest — the membership twin of
   * [[ingestHistStore]]: each micro-batch OVERWRITES its own `batch_id=`
   * partition with its own word rows (replay-safe by layout), and readers
   * fold the partitions through
   * [[graft.operators.Sketches.readBloomStore]]'s OR merge — which is
   * additionally IDEMPOTENT, so even a double-written batch cannot skew
   * the bitset. Same flat-store layout guard as the HLL/CMS/hist sinks.
   */
  def ingestBloomStore(docs: DataFrame, keyColName: String, path: String,
                       checkpoint: String, mBits: Long, k: Int,
                       salt: String = "bloom")
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val hconf = docs.sparkSession.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestBloomStore: $path holds a FLAT Bloom store; move its rows " +
      s"into a partition first (e.g. rewrite to $path/batch_id=-1) so the " +
      "streaming batch_id= layout can append beside the history")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches
          .bloomWords(batch, col(keyColName), mBits, k, salt)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$path/batch_id=$batchId")
        ()
      }
      .start()
  }

  /**
   * Streaming histogram-store ingest — the quantile twin of
   * [[ingestSketchStores]]: each micro-batch OVERWRITES its own
   * `batch_id=` partition with its own histogram rows (replay-safe by
   * layout — a retried batch rewrites, never double-merges), and readers
   * fold the partitions through
   * [[graft.operators.Sketches.readHistStore]]'s SUM merge. Same flat-
   * store layout guard as the HLL/CMS sink.
   */
  def ingestHistStore(events: DataFrame, groupColName: String,
                      valueE6: org.apache.spark.sql.Column, path: String,
                      checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val hconf = events.sparkSession.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestHistStore: $path holds a FLAT histogram store; move its rows " +
      s"into a partition first (e.g. rewrite to $path/batch_id=-1) so the " +
      "streaming batch_id= layout can append beside the history")
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches
          .histCounts(batch, col(groupColName), valueE6)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$path/batch_id=$batchId")
        ()
      }
      .start()
  }

  /**
   * Streaming quantile telemetry per event-time window: the HDR log-bucket
   * histogram ([[graft.operators.Sketches.hdrBucket]] arithmetic) grouped
   * by a tumbling window under a watermark. State is bounded by open
   * windows × groups × ~2k buckets — never by event count. Emits
   * (win, group, bucket, cnt) counter rows; closed windows answer
   * percentile queries through `Sketches.histQuantiles` (rename `win` out)
   * or fold into a persisted store via `Sketches.histMerge` — SUM-merge,
   * identical to the batch histogram for the same rows.
   */
  def windowedQuantileHist(events: DataFrame, tsColName: String,
                           groupColName: String,
                           valueE6: org.apache.spark.sql.Column,
                           windowDur: String,
                           watermarkDelay: String): DataFrame =
    events.withWatermark(tsColName, watermarkDelay)
      .groupBy(window(col(tsColName), windowDur).as("win"),
        col(groupColName).as("group"),
        graft.operators.Sketches.hdrBucket(valueE6).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /**
   * Streaming binary-index ingest — the 1-bit twin of [[ingestBloomStore]]:
   * each micro-batch OVERWRITES its own `batch_id=` partitions under the
   * store's `codes`/`blocks`/`vectors` tables (replay-safe by layout — a
   * retried batch rewrites, never double-appends), so readers'
   * partition discovery folds history and new batches transparently and
   * [[graft.operators.Similarity.dropSeenHamming]] /
   * [[graft.operators.Similarity.binaryTopKIndexed]] see a store that
   * grows with the stream. The parameter sidecar is written on the first
   * batch and thereafter ENFORCED — a restart with different
   * dim/bits/salt/blocks fails loudly instead of silently mixing two
   * incompatible bit spaces in one store. Same flat-store layout guard as
   * the Bloom/hist sinks: a batch-built store (root `_SUCCESS` marker)
   * must be migrated into a `batch_id=` partition first.
   */
  def ingestBinaryIndex(docs: DataFrame, idColName: String,
                        vecColName: String, path: String, checkpoint: String,
                        dim: Int, bits: Int, salt: String, blocks: Int = 4)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.stf
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestBinaryIndex: $path holds a BATCH-built binary index; move its " +
      s"rows into partitions first (e.g. rewrite codes to " +
      s"$path/codes/batch_id=-1) so the streaming batch_id= layout can " +
      "append beside the history")
    val paramsPath = path + "/_graft_binary_params"
    val want = s"$dim $bits $salt $blocks"
    if (graft.sources.Sidecar.exists(spark, paramsPath)) {
      val have = graft.sources.Sidecar.readText(spark, paramsPath).trim
      require(have == want,
        s"ingestBinaryIndex: store at $path was built with params [$have] " +
        s"but this stream supplies [$want] — the codes would live in two " +
        "incompatible bit spaces")
    } else graft.sources.Sidecar.writeText(spark, paramsPath, want)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val coded = graft.operators.Similarity
          .signQuantize(batch.select(col(idColName).as("id"),
            col(vecColName).as("vec")), col("vec"), dim, bits, salt, "code")
          .localCheckpoint()
        coded.select(col("id"), col("code"))
          .write.mode("overwrite").parquet(s"$path/codes/batch_id=$batchId")
        coded.select(col("code"),
            posexplode(graft.operators.Similarity
              .codeBlocks(col("code"), bits, blocks)).as(Seq("b", "w")))
          .select(col("b"), col("w"), col("code")).distinct()
          .write.mode("overwrite").parquet(s"$path/blocks/batch_id=$batchId")
        coded.select(col("id"), col("vec"), stf.vec_norm(col("vec")).as("nrm"))
          .write.mode("overwrite").parquet(s"$path/vectors/batch_id=$batchId")
        ()
      }
      .start()
  }

  /**
   * Streaming IVF-store ingest — the ANN tier's accumulate path: the
   * coarse quantizer is trained ONCE
   * ([[graft.operators.Similarity.trainIvfCentroids]], the faiss
   * train/add split) and each micro-batch OVERWRITES its own
   * `corpus/batch_id=` partition with rows assigned to the frozen cells
   * (replay-safe by layout), so
   * [[graft.operators.Similarity.ivfTopKIndexed]] serves the growing
   * corpus at any moment with unchanged probe semantics — cell ids never
   * drift between batches because the quantizer is frozen. Same
   * flat-store layout guard as the other streaming sinks: a
   * [[graft.operators.Similarity.buildIvfIndex]] batch store (root
   * `_SUCCESS`) must be migrated into a `batch_id=` partition first.
   */
  def ingestIvfStore(docs: DataFrame, idColName: String, vecColName: String,
                     path: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestIvfStore: $path holds a BATCH-built IVF index; move its rows " +
      s"into a partition first (e.g. rewrite to $path/corpus/batch_id=-1) " +
      "so the streaming batch_id= layout can append beside the history")
    require(graft.sources.Sidecar.exists(spark, path + "/_graft_centroids"),
      s"ingestIvfStore: no quantizer at $path — train once with " +
      "Similarity.trainIvfCentroids(seedCorpus, ...) before streaming ingest " +
      "(frozen centroids are what keep cell ids stable across batches)")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .appendIvfBatch(batch, col(idColName), col(vecColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming PQ-store ingest — the compressed tier's accumulate path,
   * the same faiss train/add split as [[ingestIvfStore]]: codebooks are
   * trained ONCE ([[graft.operators.Similarity.trainPqCodebooks]]) and
   * each micro-batch OVERWRITES its own `codes/batch_id=` partition with
   * rows encoded under the frozen codebooks (replay-safe by layout), so
   * [[graft.operators.Similarity.pqTopKIndexed]] serves the growing
   * corpus from codes alone — code ids never drift between batches.
   * Same flat-store and missing-model guards as the IVF sink.
   */
  def ingestPqStore(docs: DataFrame, idColName: String, vecColName: String,
                    path: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestPqStore: $path holds a BATCH-built PQ index; move its rows " +
      s"into a partition first (e.g. rewrite to $path/codes/batch_id=-1) " +
      "so the streaming batch_id= layout can append beside the history")
    require(graft.sources.Sidecar.exists(spark, path + "/_graft_pq_codebooks"),
      s"ingestPqStore: no codebooks at $path — train once with " +
      "Similarity.trainPqCodebooks(seedCorpus, ...) before streaming ingest " +
      "(frozen codebooks are what keep code ids stable across batches)")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .appendPqBatch(batch, col(idColName), col(vecColName), path, batchId)
        ()
      }
      .start()
  }

  /** Shared guard for streaming LSH-store sinks: refuse a flat
    * batch-built store (root `_SUCCESS`), then write the parameter
    * sidecar on first use or ENFORCE it on restart (a config change
    * would silently split the store into two incompatible hash
    * spaces). */
  private def lshIngestGuard(spark: org.apache.spark.sql.SparkSession,
                             path: String, op: String, paramsFile: String,
                             want: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"$op: $path holds a BATCH-built store; move its rows into a " +
      s"partition first (e.g. rewrite each table to <table>/batch_id=-1) " +
      "so the streaming batch_id= layout can append beside the history")
    val p = s"$path/$paramsFile"
    if (graft.sources.Sidecar.exists(spark, p)) {
      val have = graft.sources.Sidecar.readText(spark, p).trim
      require(have == want,
        s"$op: store at $path was built with params [$have] but this " +
        s"stream supplies [$want] — the rows would live in two " +
        "incompatible hash spaces")
    } else graft.sources.Sidecar.writeText(spark, p, want)
  }

  /**
   * Streaming inverted-index ingest — the Lucene segment pattern as a
   * sink: each micro-batch lands as its own postings/dict/segstats
   * `batch_id=` segment ([[graft.operators.TextSearch.appendTextBatch]];
   * a replayed batch overwrites only its own partition), and
   * [[graft.operators.TextSearch.bm25TopKExactIndexed]] serves the
   * accumulated corpus with scores identical to a one-pass build — BM25
   * retrieval over a corpus that never stops arriving, with no rebuild.
   * Refuses a flat [[graft.operators.TextSearch.buildTextIndex]] store
   * loudly (its corpus-wide stats sidecar cannot absorb appends).
   */
  def ingestTextIndex(docs: DataFrame, idColName: String, textColName: String,
                      path: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!graft.sources.Sidecar.exists(docs.sparkSession,
        path + "/_graft_text_stats"),
      s"ingestTextIndex: $path holds a buildTextIndex flat store whose " +
      "corpus-wide stats sidecar cannot absorb appends — rebuild it " +
      "segmented, or rebuild flat per epoch instead of streaming")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TextSearch
          .appendTextBatch(batch, col(idColName), col(textColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming counting-Bloom ingest — grow the DELETABLE membership set
   * ([[graft.operators.Sketches.initCountingBloomStore]]'s store): each
   * micro-batch lands its per-cell insertion counts as a `cells/batch_id=`
   * segment under the frozen (mBits, k, salt); pair with
   * [[ingestDeletes]] (kind = "cbloom") to drain forget requests into
   * negative segments — the membership gate then reflects both feeds.
   */
  def ingestCountingBloom(docs: DataFrame, keyColName: String, path: String,
                          checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches
          .appendCountingBloomBatch(batch, col(keyColName), path, batchId)
        ()
      }
      .start()

  /**
   * Streaming DSIR raw-side ingest — grow the raw-corpus distribution a
   * DSIR sampler weighs against (the target side stays frozen from
   * [[graft.operators.Pipeline.initDsirStore]]): each micro-batch lands
   * its bucket counts as a `raw/batch_id=` segment under the frozen
   * bucket count; scorers fold segments to exactly the one-pass ratios.
   * Refuses a flat ratio store loudly.
   */
  def ingestDsirRaw(docs: DataFrame, textColName: String, path: String,
                    checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!graft.sources.Sidecar.exists(docs.sparkSession,
        path + "/_graft_dsir_stats"),
      s"ingestDsirRaw: $path holds a buildDsirStore flat store whose " +
      "precomputed ratios cannot absorb appends — rebuild it segmented")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Pipeline
          .appendDsirRawBatch(batch, col(textColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming LM-store ingest — grow the bigram reference model
   * ([[graft.operators.TextAnalysis.buildLmStore]]'s segmented twin) from
   * a document stream: each micro-batch lands as its own unigram/bigram
   * count segment ([[graft.operators.TextAnalysis.appendLmBatch]]; counts
   * are pure sums over disjoint documents, so scorers folding the
   * segments see exactly the one-pass model — the KenLM
   * shard-count-then-merge shape). Refuses a flat store loudly.
   */
  def ingestLmStore(docs: DataFrame, textColName: String, path: String,
                    checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(!graft.sources.Sidecar.exists(docs.sparkSession,
        path + "/_graft_lm_stats"),
      s"ingestLmStore: $path holds a buildLmStore flat store whose " +
      "vocabulary sidecar cannot absorb appends — rebuild it segmented, " +
      "or rebuild flat per epoch instead of streaming")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TextAnalysis
          .appendLmBatch(batch, col(textColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming takedown — the deletion twin of every store-ingest sink:
   * each micro-batch of ids to forget lands as its own tombstone (and,
   * for the text index, negative-statistics) segment in the reserved
   * negative batch-id range, so a takedown FEED (the GDPR / opt-out
   * queue every serving pipeline carries) drains continuously without
   * ever rebuilding a store. `kind` picks the store family:
   * `"text"` ([[graft.operators.TextSearch.deleteFromTextIndex]]),
   * `"ann"` ([[graft.operators.Similarity.deleteFromAnnStore]] — IVF /
   * PQ / IVF-PQ / binary), `"minhash"` / `"cosine"`
   * ([[graft.operators.Dedup.deleteFromMinhashStore]] /
   * [[graft.operators.Dedup.deleteFromCosineLshStore]]), `"cbloom"`
   * ([[graft.operators.Sketches.deleteFromCountingBloom]] — the id
   * column carries the KEY to forget).
   */
  def ingestDeletes(ids: DataFrame, idColName: String, path: String,
                    checkpoint: String, kind: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val delete: (DataFrame, Long) => Unit = kind match {
      case "text" => (b, i) => graft.operators.TextSearch
        .deleteFromTextIndex(b, col(idColName), path, i)
      case "ann" => (b, i) => graft.operators.Similarity
        .deleteFromAnnStore(b, col(idColName), path, i)
      case "minhash" => (b, i) => graft.operators.Dedup
        .deleteFromMinhashStore(b, col(idColName), path, i)
      case "cosine" => (b, i) => graft.operators.Dedup
        .deleteFromCosineLshStore(b, col(idColName), path, i)
      case "cbloom" => (b, i) => graft.operators.Sketches
        .deleteFromCountingBloom(b, col(idColName), path, i)
      case other => throw new IllegalArgumentException(
        s"ingestDeletes: unknown store kind '$other' " +
        "(expected text | ann | minhash | cosine | cbloom)")
    }
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        delete(batch, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming MinHash-store ingest — grow the near-dup reference corpus
   * itself (the store side of [[ingestDropNearDups]]' gate): each
   * micro-batch OVERWRITES its own `bands`/`shingles` `batch_id=`
   * partitions shingled and banded under the FROZEN parameters
   * (replay-safe by layout), so
   * [[graft.operators.Dedup.dropSeenNearDups]] gates against a corpus
   * that accumulates one batch at a time.
   */
  def ingestMinhashStore(docs: DataFrame, idColName: String,
                         textColName: String, path: String, checkpoint: String,
                         n: Int = 3, numHashes: Int = 128, bands: Int = 32)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    lshIngestGuard(docs.sparkSession, path, "ingestMinhashStore",
      "_graft_minhash_params", s"$n $numHashes $bands")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .appendMinhashBatch(batch, col(idColName), col(textColName), path, batchId)
        ()
      }
      .start()
  }

  /** Streaming cosine-LSH-store ingest — the embedding twin of
    * [[ingestMinhashStore]]: grows the frozen-hyperplane vector corpus
    * [[ingestDropSeenCosine]]'s gate probes. */
  def ingestCosineLshStore(docs: DataFrame, idColName: String,
                           vecColName: String, path: String,
                           checkpoint: String, tables: Int = 8,
                           planes: Int = 8)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    lshIngestGuard(docs.sparkSession, path, "ingestCosineLshStore",
      "_graft_coslsh_params", s"$tables $planes")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .appendCosineLshBatch(batch, col(idColName), col(vecColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming IVF-PQ-store ingest — the ladder's compressed+partitioned
   * tier under the same train/add split as [[ingestIvfStore]] /
   * [[ingestPqStore]]: coarse centroids and residual codebooks are
   * trained ONCE ([[graft.operators.Similarity.trainIvfPqModel]]), each
   * micro-batch lands cell-assigned, residual-encoded, cell-sorted rows
   * in its own `codes/batch_id=` partition, and
   * [[graft.operators.Similarity.ivfPqTopKIndexed]] probes the growing
   * corpus with unchanged cell/code semantics. Same guards as the other
   * ANN sinks.
   */
  def ingestIvfPqStore(docs: DataFrame, idColName: String, vecColName: String,
                       path: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    require(!marker.getFileSystem(hconf).exists(marker),
      s"ingestIvfPqStore: $path holds a BATCH-built IVF-PQ index; move its " +
      s"rows into a partition first (e.g. rewrite to $path/codes/batch_id=-1) " +
      "so the streaming batch_id= layout can append beside the history")
    require(graft.sources.Sidecar.exists(spark, path + "/_graft_centroids") &&
      graft.sources.Sidecar.exists(spark, path + "/_graft_pq_codebooks"),
      s"ingestIvfPqStore: no model at $path — train once with " +
      "Similarity.trainIvfPqModel(seedCorpus, ...) before streaming ingest " +
      "(the frozen centroids + codebooks keep cell and code ids stable)")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .appendIvfPqBatch(batch, col(idColName), col(vecColName), path, batchId)
        ()
      }
      .start()
  }

  /**
   * Streaming tokenization against a FROZEN [[graft.operators.Bpe]]
   * merge store: each micro-batch lands with a `bpe_tokens` column
   * segmented under the store's vocabulary — the serving semantic
   * (identical tokens across batches until the store is retrained), the
   * tokenizer member of the frozen-model family next to
   * [[classifyLinear]] and [[scoreFluencyIndexed]]. Stateless: the merge
   * table is a bounded broadcast, segmentation a memoized per-row map.
   */
  def tokenizeBpe(docs: DataFrame, textColName: String, storePath: String,
                  outPath: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Bpe.applyBpeStored(batch, col(textColName), storePath))

  /** Streaming tokenization against a frozen
    * [[graft.operators.Wordpiece]] vocabulary store — the WordPiece twin
    * of [[tokenizeBpe]] (adds `wp_tokens`). */
  def tokenizeWordpiece(docs: DataFrame, textColName: String,
                        storePath: String, outPath: String,
                        checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Wordpiece
        .applyWordpieceStored(batch, col(textColName), storePath))

  /** [[tokenizeWordpiece]]'s max-likelihood twin: the SAME frozen vocab
    * store served through [[graft.operators.Unigram.applyUnigramStored]]
    * — tokens stay identical across batches until retrain. */
  def tokenizeUnigram(docs: DataFrame, textColName: String,
                      storePath: String, outPath: String,
                      checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Unigram
        .applyUnigramStored(batch, col(textColName), storePath))

  /**
   * Ingest-time BINARY near-dup gate: each micro-batch is filtered
   * against a frozen [[graft.operators.Similarity.buildBinaryIndex]]
   * store — incoming vectors within Hamming `maxHamming` of ANY stored
   * code are dropped before landing. The 1-bit twin of
   * [[ingestDropSeenCosine]], and EXACT where that gate is
   * probabilistic: the pigeonhole block join loses no within-radius pair
   * (maxHamming < blocks), so the landed set is identical to the batch
   * gate over the same store. Per-batch work is the (b, w) equi-join +
   * packed-word Hamming confirm; no streaming aggregation state.
   */
  def ingestDropSeenHamming(docs: DataFrame, idColName: String,
                            vecColName: String, storePath: String,
                            outPath: String, checkpoint: String,
                            maxHamming: Int)
    : org.apache.spark.sql.streaming.StreamingQuery =
    landFiltered(docs, outPath, checkpoint)(batch =>
      graft.operators.Similarity
        .dropSeenHamming(batch, col(idColName), col(vecColName), storePath,
          maxHamming))
}
