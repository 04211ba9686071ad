package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Fluent Dataset-style API — the migration surface for users of the
 * reference's implicit RDD wrappers (`rdd.intersects(qry)`,
 * `rdd.join(other, CONTAINS)`, `rdd.kNN(...)`, `rdd.cluster(...)`;
 * reference src/main/scala/org/apache/spark/SpatialRDD.scala implicits).
 * One import swaps the engine:
 *
 * {{{
 * import graft.syntax._
 * df.stContainedBy(col("geo"), stf.st_geomfromwkt("POLYGON (...)"))
 *   .stKnn(col("geo"), stf.st_point(lit(0), lit(0)), k = 10)
 * }}}
 *
 * Geometry is a named column instead of the reference's positional tuple
 * key — payload columns ride along untouched.
 */
object syntax {

  implicit class SpatialDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ---- predicate filters (reference PlainSpatialRDDFunctions:92-109) ----
    def stContainedBy(geo: Column, qry: Column): DataFrame = SpatialOps.containedBy(df, geo, qry)

    // ---- joins (reference Plain:262-348) ----
    def stJoin(other: DataFrame, geo: Column, otherGeo: Column,
               pred: JoinPredicate, cellSize: Double): DataFrame =
      SpatialJoin.join(df, other, geo, otherGeo, pred, cellSize)
    def stJoinIndexed(other: DataFrame, geoName: String, otherGeoName: String,
                      pred: JoinPredicate, cellSize: Double,
                      index: String = "rtree"): DataFrame =
      SpatialJoin.joinIndexed(df, other, geoName, otherGeoName, pred, cellSize, index)
    def stTemporalOverlapJoin(other: DataFrame, start: Column, end: Column,
                              otherStart: Column, otherEnd: Column, bucket: Long): DataFrame =
      TemporalJoin.overlaps(df, other, start, end, otherStart, otherEnd, bucket)
    def stAsOfJoinKeyed(other: DataFrame, idName: String, key: Column, otherKey: Column,
                        time: Column, otherTime: Column, maxLookback: Long,
                        tieBreak: Column): DataFrame =
      TemporalJoin.asOfKeyed(df, other, idName, key, otherKey, time, otherTime,
        maxLookback, tieBreak)

    // ---- kNN family (reference Plain:112-252) ----
    def stKnn(geo: Column, qry: Column, k: Int,
              distFn: (Column, Column) => Column =
                graft.functions.stf.st_centroid_distance): DataFrame =
      KNN.knn(df, geo, qry, k, distFn = distFn)

    // ---- skyline / clustering (reference Plain:361-586) ----
    def stSkyline(xCol: String, yCol: String): DataFrame = Skyline.skyline(df, xCol, yCol)
    def stCluster(id: Column, x: Column, y: Column, eps: Double, minPts: Int): DataFrame =
      DBSCAN.cluster(df, id, x, y, eps, minPts)

    // ---- raster (reference RasterRDD) ----
    def stRasterize(x: Column, y: Column, pixelWidth: Double, tileW: Int, tileH: Int): DataFrame =
      Raster.rasterize(df, x, y, pixelWidth, tileW, tileH)
    def stRasterFilter(qry: Column, pred: JoinPredicate = JoinPredicate.Intersects,
                       default: Long = 0L): DataFrame =
      Raster.filterGeom(df, qry, pred, default)
    def stBucketHistogram(buckets: Int): DataFrame = Raster.bucketHistogram(df, buckets)

    // ---- training-data ops ----
    def dedupExact(id: Column, text: Column): DataFrame = Dedup.exact(df, id, text)
    def dedupLines(id: Column, text: Column, sep: String = "\n"): DataFrame =
      Dedup.dedupLines(df, id, text, sep)
    def dropNearDuplicates(id: Column, text: Column): DataFrame =
      Dedup.dropNearDuplicates(df, id, text)
    def dropNearDuplicatesKeepBest(id: Column, text: Column, score: Column): DataFrame =
      Dedup.dropNearDuplicatesKeepBest(df, id, text, score)
    def buildMinhashStore(id: Column, text: Column, path: String): Unit =
      Dedup.buildMinhashStore(df, id, text, path)
    def dropSeenNearDups(id: Column, text: Column, storePath: String): DataFrame =
      Dedup.dropSeenNearDups(df, id, text, storePath)
    def semanticDedup(id: Column, vec: Column, k: Int, iters: Int,
                      threshold: Double,
                      maxCluster: Int = Dedup.MaxLshBucket): DataFrame =
      Dedup.semanticDedup(df, id, vec, k, iters, threshold, maxCluster)
    def prototypePrune(id: Column, vec: Column, k: Int, iters: Int,
                       keepNum: Int, keepDen: Int): DataFrame =
      Similarity.prototypePrune(df, id, vec, k, iters, keepNum, keepDen)
    def assignSplitByFamily(id: Column, text: Column, salt: String,
                            fractions: Seq[(String, Double)]): DataFrame =
      Dedup.assignSplitByFamily(df, id, text, salt, fractions)
    def buildCosineLshStore(id: Column, vec: Column, path: String,
                            tables: Int = 8, planes: Int = 8): Unit =
      Dedup.buildCosineLshStore(df, id, vec, path, tables, planes)
    def dropSeenCosine(id: Column, vec: Column, storePath: String,
                       threshold: Double): DataFrame =
      Dedup.dropSeenCosine(df, id, vec, storePath, threshold)
    def assignSplit(id: Column, salt: String, fractions: Seq[(String, Double)]): DataFrame =
      Pipeline.assignSplit(df, id, salt, fractions)
    def capPerGroup(group: Column, order: Column, n: Int): DataFrame =
      Pipeline.capPerGroup(df, group, order, n)
    def sampleExactPerGroup(group: Column, id: Column, salt: String, n: Int): DataFrame =
      Pipeline.sampleExactPerGroup(df, group, id, salt, n)
    def tokenBudgetPerGroup(group: Column, order: Column, tokens: Column,
                            budget: Long): DataFrame =
      Pipeline.tokenBudgetPerGroup(df, group, order, tokens, budget)
    def sampleByRate(group: Column, id: Column, salt: String,
                     rates: Map[String, Double], default: Double): DataFrame =
      Pipeline.sampleByRate(df, group, id, salt, rates, default)
    def mixtureSample(group: Column, id: Column, tokens: Column, salt: String,
                      weights: Map[String, Long], budget: Long): DataFrame =
      Pipeline.mixtureSample(df, group, id, tokens, salt, weights, budget)
    def packSequences(group: Column, order: Column, tokens: Column, budget: Long): DataFrame =
      Pipeline.packSequences(df, group, order, tokens, budget)
    def chunkTokens(text: Column, size: Int, stride: Int): DataFrame =
      TextAnalysis.chunkTokens(df, text, size, stride)
    def epochShuffle(id: Column, salt: String): DataFrame =
      Pipeline.epochShuffle(df, id, salt)
    def lengthBucketBatches(id: Column, tokens: Column, batchSize: Int): DataFrame =
      Pipeline.lengthBucketBatches(df, id, tokens, batchSize)
    def quantileGate(group: Column, keepNum: Int, keepDen: Int, order: Column*): DataFrame =
      Pipeline.quantileGate(df, group, keepNum, keepDen, order: _*)
    def withDuplicatedSpans(id: Column, text: Column, k: Int): DataFrame =
      TextAnalysis.withDuplicatedSpans(df, id, text, k)
    def removeDuplicateSpans(id: Column, text: Column, k: Int,
                             minDocs: Int = 2): DataFrame =
      TextAnalysis.removeDuplicateSpans(df, id, text, k, minDocs)
    def maximalDuplicateSpans(id: Column, text: Column, k: Int,
                              minDocs: Int = 2): DataFrame =
      TextAnalysis.maximalDuplicateSpans(df, id, text, k, minDocs)
    def dropSeenSpans(id: Column, text: Column, k: Int, storePath: String,
                      minOverlap: Int = 1): DataFrame =
      Dedup.dropSeenSpans(df, id, text, k, storePath, minOverlap)
    def scoreSeenSpans(id: Column, text: Column, k: Int, storePath: String): DataFrame =
      Dedup.scoreSeenSpans(df, id, text, k, storePath)
    def dupRateByGroup(group: Column, fingerprint: Column): DataFrame =
      Dedup.dupRateByGroup(df, group, fingerprint)
    def vocabTopK(text: Column, k: Int): DataFrame =
      TextAnalysis.vocabTopK(df, text, k)
    def adjacentPairCounts(text: Column, k: Int): DataFrame =
      TextAnalysis.adjacentPairCounts(df, text, k)
    def redactPii(text: Column): DataFrame =
      TextAnalysis.redactPii(df, text)
    def normalizeText(text: Column, lowercase: Boolean = true): DataFrame =
      TextAnalysis.normalizeText(df, text, lowercase)
    def kmeans(id: Column, vec: Column, k: Int, iters: Int): DataFrame =
      Similarity.kmeans(df, id, vec, k, iters)
    def bm25TopK(id: Column, text: Column, terms: Seq[String], k: Int): DataFrame =
      TextSearch.bm25TopKExact(df, id, text, terms, k)
    def withBigramFluency(id: Column, text: Column): DataFrame =
      TextAnalysis.withBigramFluency(df, id, text)
    def buildLmStore(path: String, text: Column): Unit =
      TextAnalysis.buildLmStore(df, path, text)
    def withBigramFluencyIndexed(id: Column, text: Column, path: String): DataFrame =
      TextAnalysis.withBigramFluencyIndexed(df, id, text, path)
    def learnBpe(text: Column, numMerges: Int, vocabWords: Int = 10000): DataFrame =
      Bpe.learnBpe(df, text, numMerges, vocabWords)
    def applyBpe(text: Column, merges: DataFrame): DataFrame =
      Bpe.applyBpe(df, text, merges)
    def zorderBy(cols: Seq[String], bits: Int = 16, partitions: Int = 0): DataFrame =
      ZOrder.zorderBy(df, cols, bits, partitions)
    def dsirScores(id: Column, text: Column, target: DataFrame,
                   targetText: Column, buckets: Int = 4096): DataFrame =
      Pipeline.dsirScores(df, id, text, target, targetText, buckets)
    def dsirSelect(id: Column, text: Column, target: DataFrame,
                   targetText: Column, n: Int, buckets: Int = 4096): DataFrame =
      Pipeline.dsirSelect(df, id, text, target, targetText, buckets, n)
    def temperatureWeights(group: Column, tokens: Column, sqrts: Int = 1,
                           groupName: String = "group"): DataFrame =
      Pipeline.temperatureWeights(df, group, tokens, sqrts, groupName)
    def quantileBuckets(group: Column, nBuckets: Int, bucketName: String,
                        order: Column*): DataFrame =
      Pipeline.quantileBuckets(df, group, nBuckets, bucketName, order: _*)
    def buildDsirStore(text: Column, target: DataFrame, targetText: Column,
                       buckets: Int, path: String): Unit =
      Pipeline.buildDsirStore(df, text, target, targetText, buckets, path)
    def dsirScoresIndexed(id: Column, text: Column, path: String): DataFrame =
      Pipeline.dsirScoresIndexed(df, id, text, path)
    def interleaveBySource(id: Column, group: Column, salt: String): DataFrame =
      Pipeline.interleaveBySource(df, id, group, salt)
    def sampleExact(id: Column, salt: String, n: Int): DataFrame =
      Pipeline.sampleExact(df, id, salt, n)
    def curriculumOrder(id: Column, score: Column, stages: Int,
                        salt: String): DataFrame =
      Pipeline.curriculumOrder(df, id, score, stages, salt)
    def decontaminate(id: Column, text: Column, benchmark: DataFrame,
                      benchId: Column, benchText: Column,
                      n: Int = 3, minOverlap: Int = 5): DataFrame =
      Pipeline.decontaminate(df, id, text, benchmark, benchId, benchText, n, minOverlap)
    def groupPercentiles(group: Column, value: Column, percents: Seq[Int],
                         groupName: String = "group"): DataFrame =
      Pipeline.groupPercentiles(df, group, value, percents, groupName)
    def withScripts(text: Column): DataFrame =
      TextAnalysis.withScripts(df, text)
    def mediaAHashPairs(id: Column, media: Column, maxHam: Int = 3,
                        blocks: Int = 4): DataFrame =
      Multimodal.mediaAHashPairs(df, id, media, maxHam, blocks)
    def randomProject(vec: Column, dim: Int, outDim: Int, salt: String,
                      outName: String = "proj"): DataFrame =
      Similarity.randomProject(df, vec, dim, outDim, salt, outName)
    def hardNegatives(queries: DataFrame, positives: DataFrame,
                      id: Column, qid: Column, vec: Column, qvec: Column,
                      posQid: Column, posId: Column,
                      skip: Int, take: Int): DataFrame =
      Similarity.hardNegatives(df, queries, positives, id, qid, vec, qvec,
        posQid, posId, skip, take)
    def ivfPqTopK(queries: DataFrame, id: Column, qid: Column,
                  vec: Column, qvec: Column, k: Int,
                  nlist: Int = 16, nprobe: Int = 4): DataFrame =
      Similarity.ivfPqTopK(df, queries, id, qid, vec, qvec, k, nlist, nprobe)

    // ---- round-7 additions: sketches, behavioral analytics, versioning ----
    def hllRegisters(group: Column, value: Column, pBits: Int = 10,
                     salt: String = "hll"): DataFrame =
      Sketches.hllRegisters(df, group, value, pBits, salt)
    def cmsCounters(key: Column, weight: Column, depth: Int = 4,
                    width: Int = 2048): DataFrame =
      Sketches.cmsCounters(df, key, weight, depth, width)
    def minhashCrossPairs(id: Column, text: Column, right: DataFrame,
                          rightId: Column, rightText: Column): DataFrame =
      Dedup.minhashCrossPairs(df, id, text, right, rightId, rightText)
    def decontaminateFuzzy(id: Column, text: Column, benchmark: DataFrame,
                           benchId: Column, benchText: Column): DataFrame =
      Pipeline.decontaminateFuzzy(df, id, text, benchmark, benchId, benchText)
    def sessionize(key: Column, ts: Column, tieBreak: Column, gap: Long): DataFrame =
      TemporalJoin.sessionize(df, key, ts, tieBreak, gap)
    def resampleLocf(key: Column, ts: Column, tieBreak: Column, value: Column,
                     step: Long): DataFrame =
      TemporalJoin.resampleLocf(df, key, ts, tieBreak, value, step)
    def funnel(key: Column, ts: Column, tieBreak: Column, typ: Column,
               stages: Seq[String]): DataFrame =
      EventAnalytics.funnel(df, key, ts, tieBreak, typ, stages)
    def retentionCohorts(key: Column, ts: Column, bucket: Long): DataFrame =
      EventAnalytics.retentionCohorts(df, key, ts, bucket)
    def withTrailingStats(key: Column, ts: Column, valueE6: Column,
                          horizon: Long, spikeFactor: Long = 2L): DataFrame =
      EventAnalytics.withTrailingStats(df, key, ts, valueE6, horizon, spikeFactor)
    def snapshotDiffTo(id: Column, content: Column, newer: DataFrame,
                       newerId: Column, newerContent: Column): DataFrame =
      Pipeline.snapshotDiff(df, id, content, newer, newerId, newerContent)
    def trainClassifier(text: Column, label: Column,
                        dim: Int = Classifier.DefaultDim): DataFrame =
      Classifier.train(df, text, label, dim)
    def classifierScore(text: Column, model: DataFrame,
                        dim: Int = Classifier.DefaultDim,
                        tauE6: Long = 0L): DataFrame =
      Classifier.scoreWith(df, text, model, dim, tauE6)
    def classifierGate(text: Column, model: DataFrame,
                       dim: Int = Classifier.DefaultDim,
                       tauE6: Long = 0L): DataFrame =
      Classifier.gate(df, text, model, dim, tauE6)
    def histCounts(group: Column, valueE6: Column): DataFrame =
      Sketches.histCounts(df, group, valueE6)
    def histQuantiles(ps: Seq[Int]): DataFrame =
      Sketches.histQuantiles(df, ps)
    def collocations(text: Column, k: Int, minCount: Long = 5L,
                     discount: Long = 5L): DataFrame =
      TextAnalysis.collocations(df, text, k, minCount, discount)
    def histOutliers(group: Column, valueE6: Column, counts: DataFrame,
                     p: Int): DataFrame =
      Sketches.histOutliers(df, group, valueE6, counts, p)
    def bloomMightContain(key: Column, words: DataFrame, mBits: Long,
                          k: Int, salt: String = "bloom"): DataFrame =
      Sketches.bloomMightContain(df, key, words, mBits, k, salt)
    def bloomGate(key: Column, words: DataFrame, mBits: Long, k: Int,
                  salt: String = "bloom"): DataFrame =
      Sketches.bloomGate(df, key, words, mBits, k, salt)
    def flagPhrases(text: Column, phrases: Seq[String],
                    outName: String = "flagged"): DataFrame =
      TextAnalysis.flagPhrases(df, text, phrases, outName)
    def phraseOccurrences(id: Column, text: Column,
                          phrase: Seq[String]): DataFrame =
      TextSearch.phraseOccurrences(df, id, text, phrase)
    def applyUnigram(text: Column, vocab: Seq[(String, Long)],
                     maxTokenLen: Int = 4,
                     outName: String = "ug_tokens"): DataFrame =
      Unigram.applyUnigram(df, text, vocab, maxTokenLen, outName)
    def appendTextBatch(id: Column, text: Column, path: String,
                        batchId: Long): Unit =
      TextSearch.appendTextBatch(df, id, text, path, batchId)
    def deleteFromTextIndex(id: Column, path: String, batchId: Long): Unit =
      TextSearch.deleteFromTextIndex(df, id, path, batchId)
    def appendLmBatch(text: Column, path: String, batchId: Long): Unit =
      TextAnalysis.appendLmBatch(df, text, path, batchId)
    def deleteFromLmStore(text: Column, path: String, batchId: Long): Unit =
      TextAnalysis.deleteFromLmStore(df, text, path, batchId)
    def deleteFromAnnStore(id: Column, path: String, batchId: Long): Unit =
      Similarity.deleteFromAnnStore(df, id, path, batchId)
    def deleteFromMinhashStore(id: Column, path: String, batchId: Long): Unit =
      Dedup.deleteFromMinhashStore(df, id, path, batchId)
    def deleteFromCosineLshStore(id: Column, path: String, batchId: Long): Unit =
      Dedup.deleteFromCosineLshStore(df, id, path, batchId)
    def decayedCounts(key: Column, ts: Column, halfLifeNs: Long,
                      now: Column = null): DataFrame =
      EventAnalytics.decayedCounts(df, key, ts, halfLifeNs, now)
    def appendDsirRawBatch(text: Column, path: String, batchId: Long): Unit =
      Pipeline.appendDsirRawBatch(df, text, path, batchId)
    def deleteFromDsirRaw(text: Column, path: String, batchId: Long): Unit =
      Pipeline.deleteFromDsirRaw(df, text, path, batchId)
    def appendCountingBloomBatch(key: Column, path: String, batchId: Long): Unit =
      Sketches.appendCountingBloomBatch(df, key, path, batchId)
    def deleteFromCountingBloom(key: Column, path: String, batchId: Long): Unit =
      Sketches.deleteFromCountingBloom(df, key, path, batchId)
    def countingBloomMightContain(key: Column, path: String,
                                  flagName: String = "might_contain"): DataFrame =
      Sketches.countingBloomMightContain(df, key, path, flagName)
    def countingBloomGate(key: Column, path: String): DataFrame =
      Sketches.countingBloomGate(df, key, path)
    def bm25BatchExactIndexed(queryId: Column, terms: Column, path: String,
                              k: Int): DataFrame =
      TextSearch.bm25BatchExactIndexed(df, queryId, terms, path, k)
    def pcaProject(vec: Column, model: Similarity.PcaModel,
                   whiten: Boolean = false,
                   outName: String = "pca"): DataFrame =
      Similarity.pcaProject(df, vec, model, whiten, outName)
  }
}
