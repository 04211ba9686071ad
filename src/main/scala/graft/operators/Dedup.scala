package graft.operators

import graft.functions.{GraftFunctions, stf}
import graft.plans.Probe
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deduplication operators for training-data pipelines. Four families:
 *
 *  - exact: hash-groupBy on a content fingerprint — one shuffle, keep min id.
 *  - n-gram Jaccard (exact): inverted-index self-join on shingles — the
 *    scalable exact algorithm (shuffle on shingle, then on pair); no O(n²).
 *  - MinHash+LSH: banded signatures prune the candidate space, then the same
 *    exact Jaccard refine — output identical to the exact operator whenever
 *    LSH recall covers the threshold (choose bands/rows accordingly).
 *  - SimHash: 64-bit sketch, pigeonhole block join for hamming ≤ maxHam.
 *  - embedding cosine: exact all-pairs (for oracle-verifiable output) and a
 *    random-hyperplane LSH variant for the 100TB path.
 *
 * All pair outputs use (id_a < id_b) canonical ordering. Jaccard thresholds
 * are rational p/q compared by integer cross-multiplication — no floating
 * point in the predicate, so external oracles match exactly.
 */
object Dedup {

  /** Exact dedup: group by md5(text), keep the smallest id per group.
    * Output: (keep_id, dup_count) one row per distinct content. */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol.cast("binary")).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /**
   * Spread an under-partitioned input to session parallelism BEFORE an
   * expensive per-row kernel (shingling, minhash signatures, hyperplane
   * buckets, O(n²) refines). A small parquet file arrives as ONE scan
   * partition (row-group granularity), which would run the whole kernel
   * single-threaded; the repartition moves only the raw input rows — cheap
   * exactly when it fires. The decision is [[graft.plans.Probe.spreadWidth]]:
   * exchange-free batch plans whose leaves sum to fewer partitions than
   * `defaultParallelism`, inspected without executing anything. Anything
   * with an upstream shuffle already carries `spark.sql.shuffle.partitions`
   * and is left alone; probing such a plan via `df.rdd` would force AQE to
   * materialize every upstream stage just to learn the count.
   */
  private[graft] def spread(df: DataFrame): DataFrame =
    Probe.spreadWidth(df.sparkSession, df.queryExecution.analyzed)
      .fold(df)(n => df.repartition(n))

  /**
   * Free the executor blocks behind an eagerly localCheckpoint-ed
   * DataFrame. Safe ONLY once nothing will read it again (a local
   * checkpoint has no lineage to recompute from) — callers release the
   * prep table after the output's own checkpoint has materialized. Keeps
   * the storage-hygiene invariant the old cache()+unpersist pattern had:
   * long sessions must not accumulate corpus-sized blocks.
   */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** (id, shingles, n_shingles) prep used by the Jaccard family. */
  private[graft] def shingled(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    spread(df.select(idCol.as("__id"), textCol.as("__t")))
      .select(col("__id"), TextAnalysis.shingles(col("__t"), n).as("__sh"))
      .withColumn("__sz", size(col("__sh")))
      .filter(col("__sz") > 0)
  }

  /**
   * Exact Jaccard refine over candidate pairs: join shingle sets back,
   * |A ∩ B| via array_intersect (sets — shingles are distinct), keep pairs
   * with jaccard >= p/q ⇔ i*q >= p*(|A|+|B|-i).
   */
  private def refineJaccard(cands: DataFrame, sh: DataFrame,
                            p: Int, q: Int): DataFrame =
    refineJaccard2(cands, sh, sh, p, q)

  /** Two-table form of the exact refine: `id_a` resolves in `shA`, `id_b`
    * in `shB` — the self-join case passes the same frame twice. */
  private def refineJaccard2(cands: DataFrame, shA: DataFrame, shB: DataFrame,
                             p: Int, q: Int): DataFrame = {
    val a = shA.select(col("__id").as("id_a"), col("__sh").as("__sh_a"), col("__sz").as("__sz_a"))
    val b = shB.select(col("__id").as("id_b"), col("__sh").as("__sh_b"), col("__sz").as("__sz_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("__i", stf.sorted_intersect_count(col("__sh_a"), col("__sh_b")))
      .filter(col("__i") * q >= (col("__sz_a") + col("__sz_b") - col("__i")) * p)
      .select(col("id_a"), col("id_b"))
  }

  /**
   * Exact n-gram Jaccard near-dup pairs via a PPJoin-style prefix-filtered
   * inverted index: with threshold t = p/q, any pair with J >= t shares at
   * least one of each side's first |S| - ceil(t·|S|) + 1 shingles in a
   * global total order (here: by shingle hash — collisions only add
   * candidates, which the exact refine removes). The index shrinks ~(1-t)×
   * and candidate pairs ~(1-t)²× vs the naive all-shingles join, with output
   * unchanged. Candidates are verified against the full shingle sets.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 3, p: Int = 4, q: Int = 5): DataFrame = {
    // EAGER materialization (localCheckpoint), not a lazy cache: the pair
    // plan fans out into several concurrent shuffle-map branches that all
    // read the shingle table — under AQE those stages launch together, and
    // a cold cache makes every branch recompute/contend on the same
    // partitions (measured: 6 racing copies of the shingle kernel). An
    // ExistingRDD scan is warm for all of them; released once the output
    // has its own materialization.
    val sh = shingled(df, idCol, textCol, n).localCheckpoint()
    val out = ngramJaccardPlan(sh, p, q).localCheckpoint()
    releaseCheckpoint(sh)
    out
  }

  /** Lazy (un-checkpointed) pair plan over prepared [[shingled]] rows —
    * shared by [[ngramJaccardPairs]] and the plan-shape spec (the public
    * operator's eager localCheckpoint hides this plan behind an
    * ExistingRDD scan). */
  private[graft] def ngramJaccardPlan(sh: DataFrame, p: Int, q: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // prefix length = sz - ceil(p*sz/q) + 1 (integer ceil division)
    val prefLen = col("__sz") - floor((col("__sz") * p + (q - 1)) / q).cast("int") + 1
    // PPJoin canonical order = ascending global document frequency (rarest
    // first, ties by shingle text): prefixes concentrate on rare shingles,
    // so hot shingles almost never generate candidates.
    val inv0 = sh.select(col("__id"), col("__sz"), explode(col("__sh")).as("__s"))
    // document frequency via groupBy + join back, NOT a window over the
    // shingle key: a ubiquitous shingle would funnel its entire posting list
    // into ONE window task (windows are not AQE-skew-splittable), while the
    // groupBy is map-side combined and the equi-join back is skew-splittable
    // — same trade TextAnalysis.withDuplicatedSpans makes, and the frequency
    // table it ships is small (one row per distinct shingle)
    val freq = inv0.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val prefix = inv0
      .join(freq, "__s")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__s"))))
      .filter(col("__rn") <= prefLen)
      .select(col("__id"), col("__sz"), col("__s"))
    // candidate pairs: prefix collision + Jaccard length filter
    // (J >= p/q forces q*|A| >= p*|B| and q*|B| >= p*|A|)
    val cands = prefix.as("l").join(prefix.as("r"),
        col("l.__s") === col("r.__s") && col("l.__id") < col("r.__id") &&
        col("l.__sz") * q >= col("r.__sz") * p &&
        col("r.__sz") * q >= col("l.__sz") * p)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
    refineJaccard(cands, sh, p, q)
  }

  /**
   * Default per-bucket width cap for the LSH candidate joins. A bucket
   * holding m near-identical documents would emit m² candidate pairs from
   * the naive self-join — at corpus scale one viral boilerplate page makes
   * that the job's whole cost. Buckets wider than the cap fall back to a
   * star to the bucket's minimum id: m-1 edges, linear. See
   * [[cappedBucketPairs]] for the recall argument.
   */
  val MaxLshBucket: Int = 256

  /**
   * Candidate id pairs from exploded (\_\_id, \_\_bucket) LSH rows with a
   * per-bucket width cap. Buckets at or under `maxBucket` rows contribute
   * every intra-bucket pair (the exact-LSH semantics); over-full buckets
   * contribute a star to their minimum id instead — m-1 edges, not m².
   *
   * Recall argument: a bucket only exceeds the cap when it holds one large
   * near-identical family (same MinHash band signature / hyperplane sign
   * pattern ⇒ high similarity w.h.p.), and a star over a family whose
   * members all pass the exact refine keeps the family fully connected for
   * connected-components closure — [[dropNearDuplicates]] output is
   * unchanged. The *pair list* for over-full buckets is star-shaped rather
   * than complete (the complete list is inherently quadratic); pairs not
   * incident to the representative are only reported if some other,
   * narrower bucket also captures them. Bucket sizes come from a
   * groupBy+join, not a window — the hot bucket is exactly the case where
   * a single window partition would concentrate the skew.
   */
  private[graft] def cappedBucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket ($maxBucket) must be >= 2")
    // `banded` is consumed here under several subtrees (size aggregate,
    // anti-join probe, self-join sides, star join) and is deliberately NOT
    // materialized or pre-shuffled (r15, guide §1 "measure first" — all
    // three shapes were A/B'd at sf0.1 same-host):
    //  - r14's eager localCheckpoint serialized a barrier every caller
    //    paid (q15 1.10 -> 1.30 s) and its local payoff did not reproduce
    //    (q110/q59 flat) — the signature kernel above the already-
    //    checkpointed shingle/vector prep is map-only and parallelizes,
    //    so recomputing it on idle cores beats a serial materialize;
    //  - an explicit repartition(__bucket) to share one exchange was
    //    A/B'd both AQE-advisory (coalesced to 2 tasks — byte-light rows
    //    under a CPU-dense fused refine, guide §2.5) and pinned to session
    //    parallelism (REPARTITION_BY_NUM): the pinned form still lost
    //    (q15 ~0.7x, q133 ~0.85x) because the extra exchange row-cycles
    //    every banded row where the plain plan's self-join exchange
    //    partial-aggregates map-side first.
    // The self-join's two identical scan subtrees still collapse through
    // ReuseExchange where their exchanges match.
    val b = banded.select(col("__id"), col("__bucket"))
    // join the banded rows against ONLY the over-cap buckets, not every
    // bucket's size: in a healthy corpus that table is empty-to-tiny (at
    // most rows/maxBucket entries even degenerate), so AQE broadcasts both
    // the anti- and the star-join and the common path costs one map-combined
    // aggregate over the self-join's existing shuffle — not a second full
    // shuffle of the banded rows
    val over = b.groupBy("__bucket")
      .agg(count(lit(1)).as("__bsz"), min(col("__id")).as("__rep"))
      .filter(col("__bsz") > maxBucket)
      .select(col("__bucket"), col("__rep"))
    val small = b.join(over, Seq("__bucket"), "left_anti")
    val smallPairs = small.as("l").join(small.as("r"),
        col("l.__bucket") === col("r.__bucket") && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
    // __rep = min(__id) over the bucket, so id_a < id_b holds by construction
    val starPairs = b.join(over, Seq("__bucket"))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"))
    smallPairs.union(starPairs).distinct()
  }

  /**
   * MinHash + banded LSH near-dup pairs. numHashes/bands give rows-per-band
   * r = numHashes/bands; candidate probability at similarity s is
   * 1-(1-s^r)^bands (128/32 ⇒ ~1-1e-15 at s=0.9). Candidates are refined
   * with the exact Jaccard test, so false positives never escape; output
   * differs from [[ngramJaccardPairs]] only by missed-band misses (and the
   * [[cappedBucketPairs]] star shape inside pathologically wide buckets).
   */
  def minhashLshPairs(df: DataFrame, idCol: Column, textCol: Column,
                      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                      p: Int = 4, q: Int = 5,
                      maxBucket: Int = MaxLshBucket): DataFrame = {
    // bands = 0 => the [[autoBands]] midpoint rule AT the refine
    // threshold p/q (50% collision at the threshold, -> 1 above it —
    // the datasketch convention); exact-recall verification keeps
    // explicit high-band configs
    val bandsR = if (bands == 0) autoBands(numHashes, p.toDouble / q) else bands
    require(numHashes % bandsR == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bandsR) — " +
      "trailing signature rows would be silently ignored")
    GraftFunctions.register(df.sparkSession)
    // eager, not cache() — see ngramJaccardPairs (branch fan-out races a
    // cold cache)
    val sh = shingled(df, idCol, textCol, n).localCheckpoint()
    // band_buckets seeds each band's hash with the band index, so bucket
    // values are globally distinct across bands — one join key suffices.
    // No checkpoint (r15): the r14 eager barrier taxed direct-pair
    // callers (q15 1.10 -> 1.30 s) and its claimed payoff did not
    // reproduce — the 128-hash kernel above the checkpointed `sh` is
    // map-only, so recomputation per consumer parallelizes on idle cores
    // where the materialize serialized (A/B details in cappedBucketPairs).
    val banded = sh.select(col("__id"),
        explode(stf.band_buckets(stf.minhash_sig(col("__sh"), numHashes), bandsR))
          .as("__bucket"))
    val cands = cappedBucketPairs(banded, maxBucket)
    val out = refineJaccard(cands, sh, p, q).localCheckpoint()
    releaseCheckpoint(sh)
    out
  }

  /**
   * Cross-corpus MinHash near-dup pairs: (`id_a` from `left`, `id_b` from
   * `right`) with n-gram Jaccard >= p/q, candidates generated by banded
   * signature collision ACROSS the two tables — the fuzzy complement of
   * [[graft.operators.Pipeline.contaminationPairs]]'s exact shingle
   * overlap: a paraphrased benchmark item whose trigrams are mostly-but-
   * not-exactly shared still collides in a band at high Jaccard.
   *
   * Same banding recall curve as [[minhashLshPairs]] (128/32 ⇒ per-pair
   * miss ~1e-15 at J=0.9) and the same exact refine, so precision is
   * exact. Rows with equal ids on both sides are excluded (the
   * decontamination convention — the benchmark is usually carved FROM the
   * corpus, and a document is not contaminated by itself).
   *
   * No bucket cap here, deliberately: the output contract is "EVERY
   * contaminated (corpus, bench) pair", and a corpus bucket colliding
   * with a bench bucket means those corpus docs genuinely match that
   * bench doc w.h.p. — all of them must be flagged, so the candidate
   * volume IS the answer volume. The bench side is an eval set (small by
   * nature), which bounds candidates at Σ_buckets |corpus_b|·|bench_b| —
   * linear in the colliding corpus rows, never corpus².
   */
  def minhashCrossPairs(left: DataFrame, leftId: Column, leftText: Column,
                        right: DataFrame, rightId: Column, rightText: Column,
                        n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                        p: Int = 4, q: Int = 5): DataFrame = {
    // bands = 0 => the [[autoBands]] midpoint rule at p/q (see
    // [[minhashLshPairs]])
    val bandsR = if (bands == 0) autoBands(numHashes, p.toDouble / q) else bands
    require(numHashes % bandsR == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bandsR)")
    GraftFunctions.register(left.sparkSession)
    val shL = shingled(left, leftId, leftText, n).localCheckpoint()
    val shR = shingled(right, rightId, rightText, n).localCheckpoint()
    def banded(sh: DataFrame, idName: String) = sh.select(col("__id").as(idName),
      explode(stf.band_buckets(stf.minhash_sig(col("__sh"), numHashes), bandsR))
        .as("__bucket"))
    val cands = banded(shL, "id_a")
      .join(banded(shR, "id_b"), "__bucket")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val out = refineJaccard2(cands, shL, shR, p, q).localCheckpoint()
    releaseCheckpoint(shL); releaseCheckpoint(shR)
    out
  }

  /**
   * SimHash near-dup pairs: hamming(simhash64(tokens)) <= maxHam. Pigeonhole
   * banding: split 64 bits into `blocks` equal blocks; any pair within
   * hamming <= blocks-1 matches on at least one block — an *exact* candidate
   * generator for maxHam <= blocks-1 (default 4 blocks ⇒ exact for ham<=3).
   */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   maxHam: Int = 3, blocks: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    require(64 % blocks == 0, "blocks must divide 64")
    require(maxHam <= blocks - 1,
      s"maxHam ($maxHam) must be <= blocks-1 (${blocks - 1}) or the pigeonhole " +
      "candidate generation silently misses true pairs")
    val sims = df.select(idCol.as("__id"),
      stf.simhash64(TextAnalysis.tokens(textCol)).as("__sim"))
    hammingPairs(sims, maxHam, blocks)
  }

  /**
   * Pigeonhole-exact hamming pair join over ANY (`__id`, `__sim` 64-bit
   * sketch) frame — the candidate machinery shared by [[simhashPairs]] and
   * [[Multimodal.mediaAHashPairs]]: a pair with hamming <= blocks-1 must
   * agree on at least one of `blocks` equal bit-blocks, so the block
   * equi-join generates every true candidate; the exact popcount refine
   * drops the rest. Output (id_a < id_b) pairs.
   */
  private[operators] def hammingPairs(sims: DataFrame, maxHam: Int,
                                      blocks: Int): DataFrame = {
    val w = 64 / blocks
    val banded = sims.select(col("__id"), col("__sim"),
        posexplode(array((0 until blocks).map(b =>
          shiftrightunsigned(col("__sim"), b * w).bitwiseAND(lit((1L << w) - 1))): _*)))
      .toDF("__id", "__sim", "__blk", "__val")
    banded.as("l").join(banded.as("r"),
        col("l.__blk") === col("r.__blk") && col("l.__val") === col("r.__val") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        col("l.__sim").as("__sa"), col("r.__sim").as("__sb"))
      .distinct()
      .filter(stf.hamming(col("__sa"), col("__sb")) <= maxHam)
      .select(col("id_a"), col("id_b"))
  }

  /**
   * End-to-end near-dedup: the corpus with one representative kept per
   * near-duplicate group. Pairs from [[minhashLshPairs]] are closed into
   * groups via [[ConnectedComponents]] (a near-dup of a near-dup is the
   * same document family); the minimum id of each group survives.
   */
  /**
   * Close an (id_a, id_b) near-dup pair list into families: every id of
   * `df` (self-loops keep singletons) labelled with its component min id —
   * the shared glue of the four family consumers (min-id dedup, keep-best
   * dedup, family splits, semantic dedup). Ids are widened to long for the
   * CC machinery. Returns (__id, __comp).
   */
  private def familyComponents(pairs: DataFrame, df: DataFrame,
                               idCol: Column): DataFrame = {
    val edges = pairs
      .select(col("id_a").cast("long").as("__a"), col("id_b").cast("long").as("__b"))
      .union(df.select(idCol.cast("long").as("__a"), idCol.cast("long").as("__b")))
    ConnectedComponents.run(edges)
  }

  def dropNearDuplicates(df: DataFrame, idCol: Column, textCol: Column,
                         n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                         p: Int = 4, q: Int = 5): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes, bands, p, q)
    val comps = familyComponents(pairs, df, idCol)
    val keep = comps.groupBy(col("__comp")).agg(min(col("__id")).as("__keep"))
      .select(col("__keep"))
    df.join(keep, idCol === col("__keep")).drop("__keep")
  }

  /**
   * Leakage-safe split assignment: near-duplicate documents must never
   * straddle train/val/test — a test document whose near-twin sits in
   * train leaks the answer into evaluation. Families are the
   * [[minhashLshPairs]] near-dup graph closed by [[ConnectedComponents]];
   * the split label is then [[Pipeline.assignSplit]] keyed on the FAMILY
   * representative (component min id) instead of the document id, so every
   * member of a family lands in the same split, and a singleton document
   * (its own representative) degrades to the plain per-document rule.
   *
   * Scale shape: the LSH pair join + CC (both audited above) plus one
   * equi-join of the component table back onto the corpus; the split rule
   * itself is a pure map.
   *
   * @return input columns + `split`
   */
  def assignSplitByFamily(df: DataFrame, idCol: Column, textCol: Column,
                          salt: String, fractions: Seq[(String, Double)],
                          n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                          p: Int = 4, q: Int = 5): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes, bands, p, q)
    val comps = familyComponents(pairs, df, idCol)
    val withFam = df.join(comps, idCol.cast("long") === col("__id")).drop("__id")
    Pipeline.assignSplit(withFam, col("__comp"), salt, fractions).drop("__comp")
  }

  /**
   * [[dropNearDuplicates]] with a quality-aware representative: per
   * near-dup group, keep the row with the HIGHEST `scoreCol` (ties broken
   * by minimum id) instead of the minimum id — the production shape, where
   * dedup should discard the low-quality copies, not whichever one sorted
   * last. Same LSH/closure machinery; the argmax is two skew-safe
   * aggregations (per-group max, then min-id among the tied best) rather
   * than a window, so a degenerate corpus that collapses into one giant
   * component still splits its work across tasks.
   *
   * CONTRACT: `idCol` non-null and unique; `scoreCol` non-null and
   * orderable (null scores would silently lose their rows to the join).
   */
  def dropNearDuplicatesKeepBest(df: DataFrame, idCol: Column, textCol: Column,
                                 scoreCol: Column,
                                 n: Int = 3, numHashes: Int = 128, bands: Int = 32,
                                 p: Int = 4, q: Int = 5): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes, bands, p, q)
    val comps = familyComponents(pairs, df, idCol)
    val scored = comps.join(
      df.select(idCol.as("__kb_id"), scoreCol.as("__kb_sc")),
      col("__id") === col("__kb_id"))
    val best = scored.groupBy(col("__comp")).agg(max(col("__kb_sc")).as("__kb_best"))
    val keep = scored.join(best, Seq("__comp"))
      .filter(col("__kb_sc") === col("__kb_best"))
      .groupBy(col("__comp")).agg(min(col("__id")).as("__keep"))
      .select(col("__keep"))
    df.join(keep, idCol === col("__keep")).drop("__keep")
  }

  /**
   * C4-style global line deduplication (cf. Raffel et al.'s C4 pipeline:
   * "we discarded all but one of any three-sentence span occurring more
   * than once", commonly applied per line): across the WHOLE corpus, keep
   * only the FIRST occurrence — ordered by (document id, line position) —
   * of every distinct line, drop all later occurrences, and reassemble
   * each document from its surviving lines in original order. Adds
   * `text_dedup` (empty string when every line was seen earlier).
   * `sep` splits lines and rejoins them (newline for real documents; any
   * literal separator works — token granularity via `" "`).
   *
   * CONTRACT: `idCol` non-null and unique (it defines the global order and
   * keys the reassembly join).
   *
   * Scale shape: one narrow posexplode; first-occurrence via a map-side
   * combined groupBy on the line; the instance filter is a skew-splittable
   * equi-join on the line key (a boilerplate line occurring everywhere is
   * AQE-splittable, never one window task); reassembly groups by document
   * (bounded by document size). No all-pairs anywhere.
   */
  def dedupLines(df: DataFrame, idCol: Column, textCol: Column, sep: String = "\n",
                 outName: String = "text_dedup"): DataFrame = {
    require(!df.columns.exists(c =>
      c.equalsIgnoreCase("__dl_id") || c.equalsIgnoreCase("__dl_pos") ||
      c.equalsIgnoreCase("__dl_line") || c.equalsIgnoreCase("__dl_first") ||
      c.equalsIgnoreCase(outName)),
      s"dedupLines: input must not contain columns named __dl_id/__dl_pos/__dl_line/__dl_first/$outName")
    val lines = df.select(idCol.as("__dl_id"),
      posexplode(split(textCol, java.util.regex.Pattern.quote(sep)))
        .as(Seq("__dl_pos", "__dl_line")))
    val first = lines.groupBy(col("__dl_line"))
      .agg(min(struct(col("__dl_id"), col("__dl_pos"))).as("__dl_first"))
    val kept = lines.join(first, "__dl_line")
      .filter(struct(col("__dl_id"), col("__dl_pos")) === col("__dl_first"))
    val rebuilt = kept.groupBy(col("__dl_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__dl_pos").as("p"), col("__dl_line").as("l")))),
          x => x.getField("l")),
        sep).as(outName))
    df.join(rebuilt, idCol === col("__dl_id"), "left")
      .drop("__dl_id")
      .na.fill("", Seq(outName))
  }

  /**
   * Per-group duplicate-rate report: documents, distinct fingerprints, and
   * the difference (duplicates) per group — the rollup a corpus health
   * dashboard reads. Pass any fingerprint column: `md5(text)` for exact
   * rates, a winnowing sketch ([[TextAnalysis.withFingerprints]]) for
   * near-dup rates. One hash shuffle; the exact distinct count is Spark's
   * two-phase expand aggregate, never a driver collect.
   */
  def dupRateByGroup(df: DataFrame, group: Column, fingerprint: Column): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(fingerprint).as("n_unique"))
      .withColumn("n_dups", col("n_docs") - col("n_unique"))

  // ---- incremental (cross-snapshot) dedup against a persisted span store ----
  // A growing corpus dedups each NEW batch against everything already
  // ingested — re-shuffling the full historical corpus per batch is the
  // 100 TB anti-pattern. The store persists the distinct word k-gram spans
  // of the accepted corpus once, plus a Bloom-filter sidecar; a batch probes
  // the broadcast Bloom first, so only span instances that MIGHT be in the
  // store (true hits + fpp misses) enter the confirm join. Bloom filters
  // have no false negatives and the confirm join is exact, so the result is
  // exact regardless of fpp.

  /** Build/overwrite a span store: distinct word k-gram spans of `corpus`
    * under `<path>/spans`, a serialized Bloom filter over them under
    * `<path>/_graft_bloom`, and a top-level `_SUCCESS` marker written LAST
    * (write-once wrappers redo interrupted builds, never half-read them).
    *
    * The Bloom sidecar is sized from the exact span count at ~1% fpp
    * (~1.2 GB per 10⁹ distinct spans — a driver/executor memory bound to
    * plan for; the store itself has no such bound). */
  def buildSpanStore(corpus: DataFrame, textCol: Column, k: Int, path: String): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    // invalidate FIRST: a rebuild that crashes between the spans write and
    // the bloom write must not leave an old _SUCCESS claiming the
    // (new-spans, stale-bloom) mix is complete — a stale bloom would be a
    // real false negative and break the "exact regardless of fpp" contract
    graft.sources.Sidecar.invalidateMarker(spark, path)
    val spans = corpus.select(explode(TextAnalysis.shingles(textCol, k)).as("span")).distinct()
    spans.write.mode("overwrite").parquet(path + "/spans")
    val stored = spark.read.parquet(path + "/spans")
    val n = stored.count()
    val bloom = stored.stat.bloomFilter("span", math.max(n, 1L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    graft.sources.Sidecar.writeBytes(spark, path + "/_graft_bloom", bos.toByteArray)
    graft.sources.Sidecar.markComplete(spark, path)
  }

  /**
   * Drop batch documents sharing at least `minOverlap` distinct word k-gram
   * spans with a [[buildSpanStore]] store (`minOverlap = 1` ⇒ any seen span
   * disqualifies). Returns the surviving batch rows unchanged.
   *
   * CONTRACT: `idCol` must be non-null and unique per batch row (same
   * contract as [[KNN.knnJoin]]'s left id). Null ids would pool every
   * null-id document's spans under one groupBy key AND never match the
   * final `idCol === __ss_id` anti-join — null-id documents would silently
   * always survive regardless of span overlap.
   *
   * Plan: batch spans → broadcast-Bloom prefilter (pure map — the vast
   * majority of genuinely-new spans drop here without shuffling) → exact
   * semi-join against the store confirms survivors → per-doc overlap count →
   * anti-join. Shuffle volume is bounded by true overlap + fpp·batch spans,
   * never by store or batch size.
   */
  def dropSeenSpans(batch: DataFrame, idCol: Column, textCol: Column,
                    k: Int, path: String, minOverlap: Int = 1): DataFrame = {
    require(minOverlap > 0, s"minOverlap must be positive, got $minOverlap")
    require(!batch.columns.exists(c =>
      c.equalsIgnoreCase("__ss_id") || c.equalsIgnoreCase("__ss_m")),
      "dropSeenSpans: batch must not contain columns named __ss_id/__ss_m")
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    // one broadcast per store VERSION (path + sidecar mtime): repeated
    // calls — a streaming query calls this every micro-batch — reuse the
    // same broadcast instead of re-reading and re-shipping the sidecar;
    // a refreshed store (new mtime) replaces the entry and unpersists the
    // superseded broadcast
    val bc = Dedup.bloomBroadcastFor(spark, path)
    // lazy per-executor deserialization: the filter ships once per executor
    // as bytes, not once per task as a deserialized object graph
    val mightContain = udf { (s: String) =>
      Dedup.bloomFilterFor(bc).mightContainString(s)
    }
    val store = spark.read.parquet(path + "/spans")
    val spans = batch.select(idCol.as("__ss_id"),
      explode(TextAnalysis.shingles(textCol, k)).as("span"))
    val confirmed = spans.filter(mightContain(col("span")))
      .join(store, Seq("span"), "left_semi")
    val dropIds = confirmed.groupBy(col("__ss_id"))
      .agg(count(lit(1)).as("__ss_m"))
      .filter(col("__ss_m") >= minOverlap)
      .select(col("__ss_id"))
    batch.join(dropIds, idCol === col("__ss_id"), "left_anti")
  }

  /**
   * Novelty scoring against a [[buildSpanStore]] corpus: instead of
   * dropping, annotate every batch row with `total_spans`, `seen_spans`
   * (distinct k-gram spans also present in the store) and `novelty_e6` =
   * floor(1e6·(total−seen)/total) — the soft-threshold form of
   * [[dropSeenSpans]] for "how much of this document is new text"
   * pipelines (memorization audits, freshness-weighted mixing; gate
   * afterwards at any cut instead of the drop gate's fixed minOverlap).
   * Documents with fewer than k words have no spans and score fully novel
   * (1e6). Same plan shape and same id contract as the drop gate: Bloom
   * prefilter (map-side) + exact confirm semi-join — the Bloom only
   * PREfilters the join, seen counts come from the exact join, so scores
   * carry no false-positive error.
   */
  def scoreSeenSpans(batch: DataFrame, idCol: Column, textCol: Column,
                     k: Int, path: String): DataFrame = {
    require(!batch.columns.exists(c => c.toLowerCase.startsWith("__ss_")),
      "scoreSeenSpans: batch must not contain __ss_* columns")
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    val bc = Dedup.bloomBroadcastFor(spark, path)
    val mightContain = udf { (s: String) =>
      Dedup.bloomFilterFor(bc).mightContainString(s)
    }
    val store = spark.read.parquet(path + "/spans")
    // total is the shingle ARRAY's length — a narrow map (shingles() is
    // already distinct per doc); only the seen count needs the explode +
    // store join, so the one wide shuffle carries overlap, not all spans
    val spans = batch.select(idCol.as("__ss_id"),
      explode(TextAnalysis.shingles(textCol, k)).as("span"))
    val seen = spans.filter(mightContain(col("span")))
      .join(store, Seq("span"), "left_semi")
      .groupBy(col("__ss_id")).agg(count(lit(1)).as("__ss_seen"))
    batch
      // coalesce: shingles(null text) is null and size(null) is null under
      // ANSI — a null-text row has zero spans and scores fully novel
      .withColumn("total_spans",
        coalesce(size(TextAnalysis.shingles(textCol, k)).cast("long"), lit(0L)))
      .join(seen, idCol === seen("__ss_id"), "left").drop("__ss_id")
      .withColumn("seen_spans", coalesce(col("__ss_seen"), lit(0L)))
      .withColumn("novelty_e6",
        when(col("total_spans") === 0L, lit(1000000L))
          .otherwise(expr("1000000 * (total_spans - seen_spans) div total_spans")))
      .drop("__ss_seen")
  }

  /** Driver-side cache: one bloom broadcast per (Spark application, store
    * path, sidecar version). The application id in the key stops a new
    * SparkContext in the same JVM from being served a dead context's
    * broadcast; the version is (mtime, length) — a rebuild landing in the
    * same filesystem mtime tick AND producing byte-identical length is the
    * one (narrow) window a stale filter could survive, so rebuild-heavy
    * deployments should pause a tick between rebuild and first query. A
    * store refresh replaces the entry and unpersists the old broadcast. */
  private val bloomBroadcasts = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.broadcast.Broadcast[Array[Byte]])]()

  private[operators] def bloomBroadcastFor(spark: org.apache.spark.sql.SparkSession,
                                           path: String)
    : org.apache.spark.broadcast.Broadcast[Array[Byte]] = {
    val sidecar = new org.apache.hadoop.fs.Path(path + "/_graft_bloom")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(sidecar)
    val version = (st.getModificationTime, st.getLen)
    val key = spark.sparkContext.applicationId + ":" + path
    val cur = bloomBroadcasts.compute(key, { (_, prev) =>
      if (prev != null && prev._1 == version) prev
      else {
        if (prev != null) prev._2.unpersist(false)
        (version, spark.sparkContext.broadcast(
          graft.sources.Sidecar.readBytes(spark, path + "/_graft_bloom")))
      }
    })
    cur._2
  }

  /** Executor-local LRU of deserialized Bloom filters, keyed by broadcast
    * id. Store refreshes retire broadcast ids, so entries must age out —
    * but evicting ONLY the eldest keeps many concurrently-live stores from
    * thrashing re-deserialization the way a wholesale clear would. */
  private val bloomCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, org.apache.spark.util.sketch.BloomFilter](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, org.apache.spark.util.sketch.BloomFilter]): Boolean =
        size > 8
    })

  private[operators] def bloomFilterFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
    : org.apache.spark.util.sketch.BloomFilter =
    bloomCache.synchronized {
      val got = bloomCache.get(bc.id)
      if (got != null) got
      else {
        val f = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        bloomCache.put(bc.id, f)
        f
      }
    }

  // ---- Persisted MinHash LSH store: near-dup gate against a frozen corpus.
  // The fuzzy twin of the span store: a batch/stream is admitted only if it
  // is NOT a near-duplicate (n-gram Jaccard >= p/q) of any accepted
  // document. Candidates come from banded-signature collisions against the
  // stored band table (equi-join, never all-pairs); the exact Jaccard
  // refine against the stored shingle sets removes LSH false positives, so
  // precision is exact and recall is the banding miss probability
  // (~1e-15 per pair at 128/32 and J >= 0.8).

  /** Build/overwrite a MinHash store under `path`: `bands` (id, band,
    * bucket — range-laid-out by (band, bucket) so a probe's shuffle
    * co-locates with the dominant read order), `shingles` (id, sh, sz) for
    * the exact refine, and a parameter sidecar so probes can't silently
    * mix signature configurations. Same rebuild-crash marker contract as
    * every other store. Documents with fewer than `n` tokens have no
    * shingles and are not stored (they have no near-dups under the
    * metric). */
  /** The MinHash twin of [[autoPlanes]]: choose the band count whose LSH
    * collision threshold best matches the Jaccard level the caller wants
    * to catch. Banded LSH with b bands of r = numHashes/b rows collides a
    * pair at similarity s with probability 1−(1−s^r)^b, whose S-curve
    * midpoint sits at t(b) ≈ (1/b)^(1/r) — too many bands pulls the
    * midpoint down and floods the refine with low-similarity candidates
    * (the cosine-LSH 48/3 failure mode in MinHash clothing), too few
    * misses true near-dups. Deterministic: scans the divisors of
    * numHashes, nearest midpoint wins, ties to the SMALLER band count
    * (fewer candidates at equal distance). */
  def autoBands(numHashes: Int, targetJaccard: Double): Int = {
    require(numHashes > 0 && targetJaccard > 0 && targetJaccard < 1,
      s"autoBands: need numHashes > 0 and 0 < targetJaccard < 1 " +
      s"(got $numHashes, $targetJaccard)")
    (1 to numHashes).filter(numHashes % _ == 0)
      .minBy(b => (math.abs(math.pow(1.0 / b, b.toDouble / numHashes) -
        targetJaccard), b))
  }

  def buildMinhashStore(corpus: DataFrame, idCol: Column, textCol: Column,
                        path: String, n: Int = 3, numHashes: Int = 128,
                        bands: Int = 32, targetJaccard: Double = 0.8): Unit = {
    // bands = 0 ⇒ size from the threshold the store is meant to serve
    // (the resolved value lands in the sidecar — probes never re-derive)
    val bandsR = if (bands == 0) autoBands(numHashes, targetJaccard) else bands
    require(numHashes % bandsR == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bandsR)")
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    graft.sources.Sidecar.invalidateMarker(spark, path)
    dropTombstones(spark, path) // a rebuild starts with a clean slate
    val sh = shingled(corpus, idCol, textCol, n).cache()
    sh.select(col("__id").as("id"),
        posexplode(stf.band_buckets(stf.minhash_sig(col("__sh"), numHashes), bandsR)))
      .toDF("id", "band", "bucket")
      .repartitionByRange(col("band"), col("bucket"))
      .sortWithinPartitions(col("band"), col("bucket"))
      .write.mode("overwrite").parquet(path + "/bands")
    sh.select(col("__id").as("id"), col("__sh").as("sh"), col("__sz").as("sz"))
      .write.mode("overwrite").parquet(path + "/shingles")
    sh.unpersist(blocking = false)
    graft.sources.Sidecar.writeText(spark, path + "/_graft_minhash_params",
      s"$n $numHashes $bandsR")
    graft.sources.Sidecar.markComplete(spark, path)
  }

  /**
   * Drop batch documents that are near-duplicates (n-gram Jaccard >= p/q)
   * of ANY document in a [[buildMinhashStore]] store; surviving rows pass
   * through unchanged. Signature parameters (n, numHashes, bands) come
   * from the store sidecar — the probe cannot disagree with the build.
   *
   * CONTRACT: `idCol` non-null and unique per batch row (null ids would
   * never match the anti-join and always survive).
   *
   * Plan shape: batch signatures equi-join the stored band table on
   * (band, bucket) — shuffle bounded by batch size + colliding store rows,
   * never store size — then one distinct candidate pair set, exact refine
   * against stored shingle sets, anti-join. All joins key-partitioned;
   * nothing driver-side.
   */
  def dropSeenNearDups(batch: DataFrame, idCol: Column, textCol: Column,
                       path: String, p: Int = 4, q: Int = 5): DataFrame = {
    require(!batch.columns.exists(c => c.toLowerCase.startsWith("__mh_")),
      "dropSeenNearDups: batch must not contain __mh_* columns")
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    val params = graft.sources.Sidecar
      .readText(spark, path + "/_graft_minhash_params").trim.split(" ")
    val (n, numHashes, bands) = (params(0).toInt, params(1).toInt, params(2).toInt)
    val sh = shingled(batch, idCol, textCol, n)
    val banded = sh.select(col("__id").as("__mh_id"),
        posexplode(stf.band_buckets(stf.minhash_sig(col("__sh"), numHashes), bands)))
      .toDF("__mh_id", "__mh_band", "__mh_bucket")
    // every candidate flows through the bands join, so tombstoning THIS
    // table is sufficient to forget a document (its shingle row can then
    // never be consulted)
    val storeBands = minusTombstones(spark.read.parquet(path + "/bands"), path)
    val cands = banded.join(storeBands,
        col("__mh_band") === col("band") && col("__mh_bucket") === col("bucket"))
      .select(col("__mh_id"), col("id").as("__mh_sid"))
      .distinct()
    val storeSh = spark.read.parquet(path + "/shingles")
    val seen = cands
      .join(sh.select(col("__id").as("__mh_id"), col("__sh"), col("__sz")), Seq("__mh_id"))
      .join(storeSh.select(col("id").as("__mh_sid"), col("sh").as("__mh_sh"),
        col("sz").as("__mh_sz")), Seq("__mh_sid"))
      .withColumn("__mh_i", stf.sorted_intersect_count(col("__sh"), col("__mh_sh")))
      .filter(col("__mh_i") * q >= (col("__sz") + col("__mh_sz") - col("__mh_i")) * p)
      .select(col("__mh_id")).distinct()
    batch.join(seen, idCol === col("__mh_id"), "left_anti")
  }

  /** Initialize a MinHash-store layout for INCREMENTAL builds: write only
    * the parameter sidecar (the train-once "model" — banding config must
    * never drift between appends), no rows, no completion marker. Batches
    * then accumulate via [[appendMinhashBatch]] /
    * `EventStreams.ingestMinhashStore`, and [[dropSeenNearDups]] folds
    * every `batch_id=` partition through partition discovery. */
  def initMinhashStore(spark: org.apache.spark.sql.SparkSession, path: String,
                       n: Int = 3, numHashes: Int = 128, bands: Int = 32): Unit = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    graft.sources.Sidecar.writeText(spark, path + "/_graft_minhash_params",
      s"$n $numHashes $bands")
  }

  /** Shingle, sign and append one batch as its own `bands`/`shingles`
    * `batch_id=` partitions under the store's FROZEN parameters
    * (overwrite-by-batch — replay-safe): the exact per-row layout
    * [[buildMinhashStore]] writes, indistinguishable from a one-pass
    * build to every reader. */
  def appendMinhashBatch(batch: DataFrame, idCol: Column, textCol: Column,
                         path: String, batchId: Long): Unit = {
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    val params = graft.sources.Sidecar
      .readText(spark, path + "/_graft_minhash_params").trim.split(" ")
    val (n, numHashes, bands) = (params(0).toInt, params(1).toInt, params(2).toInt)
    val sh = shingled(batch, idCol, textCol, n).localCheckpoint()
    sh.select(col("__id").as("id"),
        posexplode(stf.band_buckets(stf.minhash_sig(col("__sh"), numHashes), bands)))
      .toDF("id", "band", "bucket")
      .sortWithinPartitions(col("band"), col("bucket"))
      .write.mode("overwrite").parquet(s"$path/bands/batch_id=$batchId")
    sh.select(col("__id").as("id"), col("__sh").as("sh"), col("__sz").as("sz"))
      .write.mode("overwrite").parquet(s"$path/shingles/batch_id=$batchId")
    releaseCheckpoint(sh)
  }

  // ---- takedown (tombstones) ----
  // The LSH reference stores carry NO corpus-wide statistics, so
  // forgetting a document is a pure id tombstone: deletion appends a
  // `tombstones/batch_id=` segment (reserved negative batch-id range, so
  // it never collides with an ingest segment; replays overwrite only
  // their own partition) and the gates anti-join the store's candidate
  // table against the accumulated tombstones — a forgotten doc can never
  // surface as a collision candidate again, without touching history.
  // Works on one-pass AND segmented stores alike. CONTRACT: a deleted id
  // must not be re-ingested later (ids are exactly-once across the
  // store's lifetime — the contract appends already carry).

  /** Remove the tombstones of a store that is being REBUILT one-pass —
    * stale tombstones must not shadow the fresh corpus's rows. */
  private def dropTombstones(spark: org.apache.spark.sql.SparkSession,
                             path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path + "/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** The store's tombstoned ids, if any deletion has happened. */
  private def lshTombstones(spark: org.apache.spark.sql.SparkSession,
                            path: String): Option[DataFrame] =
    if (graft.sources.Sidecar.exists(spark, path + "/tombstones"))
      Some(spark.read.parquet(path + "/tombstones").select(col("id")).distinct())
    else None

  /** Anti-join a store table against the tombstones (no-op when nothing
    * was ever deleted). */
  private def minusTombstones(store: DataFrame, path: String): DataFrame =
    lshTombstones(store.sparkSession, path) match {
      case Some(t) => store.join(t, Seq("id"), "left_anti")
      case None => store
    }

  /** Compact an LSH store's listed tables: anti-join each against the
    * tombstones and rewrite as ONE segment at the reserved compact id
    * (Long.MinValue), tombstones cleared, params sidecars carried over —
    * the staged-swap contract of every compactor. Gate verdicts are
    * identical before and after; works on one-pass AND segmented inputs
    * (the output is always segmented). */
  private def compactLshStore(spark: org.apache.spark.sql.SparkSession,
                              path: String, tables: Seq[String],
                              paramsFile: String): Unit = {
    val params = graft.sources.Sidecar.readText(spark, s"$path/$paramsFile")
    val tmp = path + ".tmp"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val ts = lshTombstones(spark, path)
    tables.foreach { t =>
      val folded = spark.read.parquet(s"$path/$t")
        .drop("batch_id") // absent on flat inputs; uniform output below
      val live = ts match {
        case Some(tt) => folded.join(tt, Seq("id"), "left_anti")
        case None => folded
      }
      live.write.mode("overwrite")
        .parquet(s"$tmp/$t/batch_id=${Long.MinValue}")
    }
    graft.sources.Sidecar.writeText(spark, s"$tmp/$paramsFile", params)
    graft.sources.Sidecar.markComplete(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(path)),
      s"compactLshStore: rename $tmp -> $path failed; the compacted " +
      s"store is intact at $tmp")
  }

  /** Compact a MinHash store (fold segments, apply tombstones, reserved
    * compact id — see [[compactLshStore]]). */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    compactLshStore(spark, path, Seq("bands", "shingles"),
      "_graft_minhash_params")

  /** Compact a cosine-LSH store (the embedding twin). */
  def compactCosineLshStore(spark: org.apache.spark.sql.SparkSession,
                            path: String): Unit =
    compactLshStore(spark, path, Seq("buckets", "vectors"),
      "_graft_coslsh_params")

  /** Forget `ids` from a MinHash store (one-pass or segmented) without a
    * rebuild — see the takedown notes above. */
  def deleteFromMinhashStore(ids: DataFrame, idCol: Column, path: String,
                             batchId: Long): Unit = {
    require(batchId >= 0,
      s"deleteFromMinhashStore: batchId must be >= 0, got $batchId")
    ids.select(idCol.as("id")).distinct()
      .write.mode("overwrite").parquet(s"$path/tombstones/batch_id=${-batchId - 1}")
  }

  /** Forget `ids` from a cosine-LSH store (one-pass or segmented) without
    * a rebuild — see the takedown notes above. */
  def deleteFromCosineLshStore(ids: DataFrame, idCol: Column, path: String,
                               batchId: Long): Unit = {
    require(batchId >= 0,
      s"deleteFromCosineLshStore: batchId must be >= 0, got $batchId")
    ids.select(idCol.as("id")).distinct()
      .write.mode("overwrite").parquet(s"$path/tombstones/batch_id=${-batchId - 1}")
  }

  /** Initialize a cosine-LSH-store layout for INCREMENTAL builds — the
    * embedding twin of [[initMinhashStore]] (hyperplane config is the
    * frozen model; see [[buildCosineLshStore]]). */
  def initCosineLshStore(spark: org.apache.spark.sql.SparkSession, path: String,
                         tables: Int = 8, planes: Int = 8): Unit = {
    // planes = 0 means "size from the corpus" on the ONE-PASS build; an
    // empty init has no corpus to size from, and a literal 0 in the
    // sidecar would break every later append/probe obscurely — fail here,
    // loudly, pointing at the sizing rule the caller should apply
    require(tables > 0, s"tables must be positive, got $tables")
    require(planes > 0, "initCosineLshStore cannot auto-size planes (no " +
      "corpus yet) — pass planes = Dedup.autoPlanes(expectedRows) for the " +
      "production sizing rule, or an explicit count")
    graft.sources.Sidecar.writeText(spark, path + "/_graft_coslsh_params",
      s"$tables $planes")
  }

  /** Bucket and append one batch as its own `buckets`/`vectors`
    * `batch_id=` partitions under the store's FROZEN hyperplanes —
    * [[buildCosineLshStore]]'s per-row layout, overwrite-by-batch. */
  def appendCosineLshBatch(batch: DataFrame, idCol: Column, vecCol: Column,
                           path: String, batchId: Long): Unit = {
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    val params = graft.sources.Sidecar
      .readText(spark, path + "/_graft_coslsh_params").trim.split(" ")
    val (tables, planes) = (params(0).toInt, params(1).toInt)
    val v = spread(batch.select(idCol.as("__id"), vecCol.as("__vec")))
      .localCheckpoint()
    v.select(col("__id").as("id"),
        explode(stf.hyperplane_buckets(col("__vec"), tables, planes)).as("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").parquet(s"$path/buckets/batch_id=$batchId")
    v.select(col("__id").as("id"), col("__vec").as("vec"),
        stf.vec_norm(col("__vec")).as("nrm"))
      .write.mode("overwrite").parquet(s"$path/vectors/batch_id=$batchId")
    releaseCheckpoint(v)
  }

  /** Sequential-fold double cosine similarity of two float vectors
    * ([[graft.functions.VecOps]] kernel — bit-identical to the
    * `list_sum([a[i]*b[i] ...])` form an external SQL oracle evaluates). */
  def cosine(a: Column, b: Column): Column =
    stf.vec_dot(a, b) / (stf.vec_norm(a) * stf.vec_norm(b))

  // ---- Persisted cosine-LSH vector store: embedding near-dup gate against
  // a frozen corpus — the embedding twin of the MinHash store. Candidates
  // come from hyperplane sign-pattern collisions against the stored bucket
  // table (equi-join, never all-pairs); the exact cosine refine against the
  // stored vectors removes LSH false positives, so precision is exact and
  // recall is the 1-(1-(1-θ/π)^planes)^tables banding curve — size
  // tables/planes to the gate's threshold (e.g. 48/3 puts the per-pair miss
  // at ~5e-7 for cosine 0.42; dedup-grade thresholds need far fewer).

  /** Build/overwrite a cosine-LSH store under `path`: `buckets` (id,
    * bucket — range-laid-out by bucket so probes co-locate with the
    * dominant read order), `vectors` (id, vec, nrm) for the exact refine,
    * and a parameter sidecar so probes can't silently mix hyperplane
    * configurations. Same rebuild-crash marker contract as every other
    * store. */
  /** The MEASURED cosine-LSH sizing rule as code (dev/coslsh_sizing.scala:
    * planes = log₂(store/width) vs the low-planes config on the same sf1
    * table and threshold — identical verdict set, 13.2 s vs 270.6 s =
    * 20×): a table has 2^planes sign-pattern buckets, so planes must grow
    * with the corpus to hold the expected bucket width at `targetWidth`
    * (candidates per probe ≈ tables × rows / 2^planes). Callers who pass
    * `planes = 0` to [[buildCosineLshStore]] / [[cosinePairsLsh]] get this
    * rule applied to the actual row count instead of having to know it. */
  def autoPlanes(rows: Long, targetWidth: Int = 16): Int = {
    require(targetWidth > 0, s"targetWidth must be positive, got $targetWidth")
    val buckets = math.max(rows / targetWidth, 1L) // ceil(log2(buckets)), floored at 1
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(buckets - 1, 1L)))
  }

  def buildCosineLshStore(corpus: DataFrame, idCol: Column, vecCol: Column,
                          path: String, tables: Int = 8, planes: Int = 8): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    graft.sources.Sidecar.invalidateMarker(spark, path)
    dropTombstones(spark, path) // a rebuild starts with a clean slate
    val v = spread(corpus.select(idCol.as("__id"), vecCol.as("__vec")))
      .localCheckpoint() // two writes below read it — warm, not racing
    // planes = 0 ⇒ size from the store itself (one count over the already-
    // materialized checkpoint); the RESOLVED value lands in the sidecar,
    // so probes never re-derive it
    val planesR = if (planes == 0) autoPlanes(v.count()) else planes
    v.select(col("__id").as("id"),
        explode(stf.hyperplane_buckets(col("__vec"), tables, planesR)).as("bucket"))
      .repartitionByRange(col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").parquet(path + "/buckets")
    v.select(col("__id").as("id"), col("__vec").as("vec"),
        stf.vec_norm(col("__vec")).as("nrm"))
      .write.mode("overwrite").parquet(path + "/vectors")
    releaseCheckpoint(v)
    graft.sources.Sidecar.writeText(spark, path + "/_graft_coslsh_params",
      s"$tables $planesR")
    graft.sources.Sidecar.markComplete(spark, path)
  }

  /** Admit only the batch rows that are NOT an embedding near-duplicate
    * (cosine >= `threshold`) of any stored vector. Per-batch work is the
    * bucket equi-join + exact cosine confirm — the batch side is
    * broadcast-small in the ingest setting, and nothing accumulates
    * outside the store.
    *
    * SIZING RULE (differs from the MinHash gate, whose band buckets are
    * 64-bit signature hashes): a table has only 2^planes sign-pattern
    * buckets, so expected candidates per batch row ≈
    * tables × store / 2^planes. `planes` must GROW with the store —
    * planes ≈ log₂(store / desired-bucket-width) — or the confirm step
    * degenerates toward (or past) brute force. Low-planes/high-tables
    * configurations (like q111's oracle-anchoring 48/3) buy near-exact
    * recall at moderate thresholds and are only for corpora small enough
    * to verify exactly; production gates run dedup-grade thresholds
    * (≥ 0.9) where planes can be large with recall intact. */
  def dropSeenCosine(batch: DataFrame, idCol: Column, vecCol: Column,
                     path: String, threshold: Double): DataFrame = {
    require(!batch.columns.exists(_.toLowerCase.startsWith("__cl_")),
      "dropSeenCosine: batch must not contain __cl_* columns")
    GraftFunctions.register(batch.sparkSession)
    val spark = batch.sparkSession
    val params = graft.sources.Sidecar
      .readText(spark, path + "/_graft_coslsh_params").trim.split(" ")
    val (tables, planes) = (params(0).toInt, params(1).toInt)
    // spread the probe scan (r15): with the candidate distinct removed
    // (below) and the store sides broadcast, the ENTIRE candidate+refine
    // pipeline fuses into one exchange-free codegen stage whose task count
    // is the probe parquet's partition count — measured at sf1 as ONE
    // task computing all ~600M dot products (jstack: a single runnable
    // worker in VecOps.dotF). The spread moves only the raw probe rows
    // and gives the fused stage session parallelism.
    val v = spread(batch.select(idCol.as("__cl_id"), vecCol.as("__cl_vec")))
      .withColumn("__cl_nrm", stf.vec_norm(col("__cl_vec")))
    val banded = v.select(col("__cl_id"),
      explode(stf.hyperplane_buckets(col("__cl_vec"), tables, planes)).as("__cl_bucket"))
    // every candidate flows through the buckets join — tombstoning it is
    // sufficient to forget a vector (see the takedown notes).
    // NO distinct before the refine (r15, guide §2.2 "shuffle fewer
    // bytes"): a sign-pattern table has only 2^planes buckets, so EVERY
    // candidate pair collides in ~tables/2^planes tables and the
    // pre-refine duplicate factor is large (48/3 config: ~6x) — at sf1
    // the candidate-instance table is ~600M rows and the distinct was a
    // full shuffle of all of them, dominating q111/q182/q205 (287/325/
    // 229 s). The exact-cosine refine is a cheap codegen'd dot product,
    // so re-confirming each duplicate instance map-side costs far less
    // than shuffling the instances once; the id-level distinct below
    // already collapses duplicates AFTER the filter, when only true
    // matches remain. Set-identical: distinct-then-filter == filter-then-
    // distinct for a deterministic per-row predicate. (The MinHash twin
    // KEEPS its candidate distinct: 64-bit band buckets collide only for
    // true near-dups, whose re-refine is an expensive array intersect.)
    val cands = banded
      .join(minusTombstones(spark.read.parquet(path + "/buckets"), path),
        col("__cl_bucket") === col("bucket"))
      .select(col("__cl_id"), col("id").as("__cl_sid"))
    val storeVec = spark.read.parquet(path + "/vectors")
    val seen = cands
      .join(v, "__cl_id")
      .join(storeVec.select(col("id").as("__cl_sid"), col("vec").as("__cl_svec"),
        col("nrm").as("__cl_snrm")), "__cl_sid")
      .filter(stf.vec_dot(col("__cl_vec"), col("__cl_svec")) /
        (col("__cl_nrm") * col("__cl_snrm")) >= threshold)
      .select(col("__cl_id")).distinct()
    batch.join(seen, idCol === col("__cl_id"), "left_anti")
  }

  /** Hard row cap for [[cosinePairsExact]] — the all-pairs join is O(n²)
    * by design (its role is the small-corpus exact oracle baseline), so it
    * refuses to run on anything a real corpus sized. Same loud-contract
    * style as [[ConnectedComponents]]' quotient bound. */
  val CosineExactBound: Long = 100000L

  /**
   * Exact embedding near-dup pairs: all pairs with cosine >= threshold.
   * Norms are computed once per row *before* the O(n²) pair join (the join
   * itself evaluates one dot product + one divide per pair).
   * Broadcast-nested-loop; right for corpora small enough to verify
   * exactly — use [[cosinePairsLsh]] as the large-scale path. Inputs larger
   * than [[CosineExactBound]] rows are rejected (costs one count job).
   */
  def cosinePairsExact(df: DataFrame, idCol: Column, vecCol: Column,
                       threshold: Double): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val v = spread(df.select(idCol.as("__id"), vecCol.as("__vec")))
      .withColumn("__nrm", stf.vec_norm(col("__vec")))
    val n = v.count()
    require(n <= CosineExactBound,
      s"cosinePairsExact is the O(n²) exact oracle baseline, capped at " +
      s"$CosineExactBound rows; got $n — use cosinePairsLsh for real corpora")
    v.as("l").join(v.as("r"), col("l.__id") < col("r.__id"))
      .filter(stf.vec_dot(col("l.__vec"), col("r.__vec")) /
        (col("l.__nrm") * col("r.__nrm")) >= threshold)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
  }

  /**
   * Random-hyperplane LSH cosine near-dup pairs: candidates collide in at
   * least one of `tables` sign-pattern buckets, then exact-cosine refine.
   * Recall at cosine c is 1-(1-(1-acos(c)/π)^planes)^tables.
   */
  def cosinePairsLsh(df: DataFrame, idCol: Column, vecCol: Column,
                     threshold: Double, tables: Int = 8, planes: Int = 8,
                     maxBucket: Int = MaxLshBucket): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val v = spread(df.select(idCol.as("__id"), vecCol.as("__vec")))
    // planes = 0 ⇒ the measured [[autoPlanes]] rule on the actual corpus
    // (costs one count job — the price of not knowing the size)
    val planesR = if (planes == 0) autoPlanes(v.count()) else planes
    val withNorm = v.withColumn("__nrm", stf.vec_norm(col("__vec")))
    // hyperplane_buckets encodes the table index in the bucket value, so
    // one join key covers all tables; capped against hot buckets (the
    // sign-pattern kernel recomputes per consumer subtree by design —
    // see the A/B note in cappedBucketPairs).
    val banded = v.select(col("__id"),
      explode(stf.hyperplane_buckets(col("__vec"), tables, planesR)).as("__bucket"))
    // distinct on the id pair only (cheap), then join vectors back for refine
    val cands = cappedBucketPairs(banded, maxBucket)
    cands
      .join(withNorm.select(col("__id").as("id_a"), col("__vec").as("__va"), col("__nrm").as("__na")), "id_a")
      .join(withNorm.select(col("__id").as("id_b"), col("__vec").as("__vb"), col("__nrm").as("__nb")), "id_b")
      .filter(stf.vec_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540 — public method): cluster the embedding corpus with
   * the seeded deterministic k-means ([[Similarity.kmeans]]), then WITHIN
   * each cluster close cosine >= `threshold` pairs into groups and keep
   * only the minimum id of every group. Embedding-space near-duplicates
   * land in the same cluster (they are near the same centroid), so the
   * clusters bound the quadratic: candidate pairs are per-cluster
   * (sum |c|² work, one shuffle on the cluster key), never corpus².
   *
   * At 100 TB the knob is `k`: choose k ≈ n/10⁴ so a cluster's pair block
   * is one task's work; the k-means pass itself is iters+1 linear scans
   * with a broadcast k×dim centroid table. Near-duplicate pairs split
   * across a cluster boundary are missed by construction — the documented
   * SemDeDup trade (recall vs the quadratic), same contract as the paper.
   *
   * k-means does NOT bound the max cluster, though: a boilerplate-heavy
   * corpus (exactly the dedup case) collapses millions of near-identical
   * embeddings into ONE cluster, and the naive within-cluster self-join
   * then emits |c|² pairs through a single join key. Clusters wider than
   * `maxCluster` therefore fall back to [[cappedBucketPairs]]' star to the
   * cluster's minimum id — m−1 candidate edges, not m². Every star edge
   * still passes the exact cosine refine, so a hot cluster that is one
   * near-identical family (the scenario that creates hot clusters) stays
   * fully connected and the min-id survivor set is unchanged; a hot
   * cluster mixing several distinct families keeps only the families the
   * representative belongs to deduplicated — the same recall-vs-quadratic
   * trade [[minhashLshPairs]] documents for over-full LSH buckets.
   *
   * Deterministic end to end (seeded k-means, capped candidate rule, exact
   * cosine refine, min-id survivor), so the full pipeline — Lloyd
   * iterations, per-cluster capped pair closure, survivor rule — replays
   * in the DuckDB oracle.
   *
   * @return kept rows: (id, cluster), one per surviving document
   */
  def semanticDedup(df: DataFrame, idCol: Column, vecCol: Column,
                    k: Int, iters: Int, threshold: Double,
                    maxCluster: Int = MaxLshBucket): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val assign = Similarity.kmeans(df, idCol, vecCol, k, iters)
      .select(col("id").cast("long").as("__id"), col("cluster").as("__c"))
    val v = df.select(idCol.cast("long").as("__id"), vecCol.as("__vec"))
      .withColumn("__nrm", stf.vec_norm(col("__vec")))
      .join(assign, "__id")
    val cands = cappedBucketPairs(
      v.select(col("__id"), col("__c").as("__bucket")), maxCluster)
    val pairs = cands
      .join(v.select(col("__id").as("id_a"), col("__vec").as("__va"),
        col("__nrm").as("__na")), "id_a")
      .join(v.select(col("__id").as("id_b"), col("__vec").as("__vb"),
        col("__nrm").as("__nb")), "id_b")
      .filter(stf.vec_dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // edges never cross clusters, so each component lives inside one
    // cluster and the kept row's cluster is well-defined
    val comps = familyComponents(pairs, df, idCol)
    val keep = comps.groupBy(col("__comp")).agg(min(col("__id")).as("__keep"))
    v.select(col("__id"), col("__c"))
      .join(keep, col("__id") === col("__keep"))
      .select(col("__id").as("id"), col("__c").as("cluster"))
  }
}
