package graft

import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Cross-variant consistency tests for the dedup/similarity family —
 * reference test style #3 (SURVEY §5): independent implementations of the
 * same semantic must agree.
 */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH pairs == exact inverted-index Jaccard pairs") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text")))
    val lsh = pairSet(Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))
    assert(exact.nonEmpty)
    assert(lsh == exact) // 128/32 banding: miss probability ~1e-15 at J>=0.8
  }

  test("LSH hot-bucket cap: 500 identical docs emit a linear star, not m² pairs") {
    // The degenerate corpus every web crawl contains: one boilerplate page
    // repeated m times. Every band puts all m rows in one bucket; uncapped,
    // the self-join would emit m(m-1)/2 = 124 750 pairs × 32 bands of
    // candidates. The cap (default 256 < 500) must collapse that to the
    // m-1 star on the minimum id — and connected-components closure over
    // the star must still dedup the family to a single survivor.
    val family = spark.range(500).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated across the whole hot bucket").as("text"))
    val unique = spark.range(1000, 1005).select(col("id").as("doc_id"),
      concat(lit("genuinely distinct document number "), col("id"),
        lit(" with its own content words")).as("text"))
    val corpus = family.union(unique).localCheckpoint()
    val pairs = pairSet(Dedup.minhashLshPairs(corpus, col("doc_id"), col("text")))
    assert(pairs == (1L until 500L).map(i => (0L, i)).toSet) // star, not quadratic
    val kept = Dedup.dropNearDuplicates(corpus, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L) ++ (1000L until 1005L)) // family -> one survivor
  }

  test("cosine LSH hot-bucket cap: identical vectors emit the star and stay exact-subset") {
    val family = spark.range(400).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(2.0f), lit(3.0f)).as("embedding"))
    val pairs = pairSet(Dedup.cosinePairsLsh(family, col("vec_id"), col("embedding"),
      threshold = 0.99, tables = 8, planes = 8))
    assert(pairs == (1L until 400L).map(i => (0L, i)).toSet)
  }

  test("simhash pigeonhole banding finds exactly the brute-force hamming<=3 pairs") {
    import graft.functions.stf
    val sim = pairSet(Dedup.simhashPairs(docs, col("doc_id"), col("text")))
    // brute force on the driver: all pairs with bitCount(xor) <= 3
    val sigs = docs.select(col("doc_id"),
        stf.simhash64(TextAnalysis.tokens(col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    assert(sim.nonEmpty)
    assert(sim == brute) // 4-block pigeonhole is exact for hamming <= 3
  }

  test("cosine LSH pairs are a subset of exact cosine pairs; high recall at high threshold") {
    val exact = pairSet(Dedup.cosinePairsExact(embs, col("vec_id"), col("embedding"), 0.42))
    val lsh = pairSet(Dedup.cosinePairsLsh(embs, col("vec_id"), col("embedding"), 0.42,
      tables = 8, planes = 8))
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // at this moderate threshold recall is partial by design; sanity: nonzero
    assert(lsh.nonEmpty)
  }

  test("cosine LSH with q33's parameters (planes=3, tables=48) equals exact at every SF") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Tables.load(spark, dir, "embeddings")
      val exact = pairSet(Dedup.cosinePairsExact(e, col("vec_id"), col("embedding"), 0.42))
      val lsh = pairSet(Dedup.cosinePairsLsh(e, col("vec_id"), col("embedding"), 0.42,
        tables = 48, planes = 3))
      assert(exact.nonEmpty)
      assert(lsh == exact, s"$dir missed: ${exact -- lsh}; extra: ${lsh -- exact}")
    }
  }

  test("cosinePairsExact refuses corpora beyond its oracle-baseline bound") {
    // the O(n²) exact path exists to verify the LSH path, not to run on a
    // real corpus — the guard must fire loudly, not silently go quadratic
    import spark.implicits._
    val big = spark.range(Dedup.CosineExactBound + 1)
      .select(col("id"), array(lit(1.0f)).as("v"))
    val e = intercept[IllegalArgumentException] {
      Dedup.cosinePairsExact(big, col("id"), col("v"), 0.9)
    }
    assert(e.getMessage.contains("oracle baseline"), e.getMessage)
    assert(e.getMessage.contains("cosinePairsLsh"), e.getMessage)
  }

  test("dropNearDuplicates removes exactly one of each near-dup pair family") {
    val kept = Dedup.dropNearDuplicates(docs, col("doc_id"), col("text"))
    val pairs = pairSet(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text")))
    val keptIds = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // every pair loses at least one member; the min-id member survives
    pairs.foreach { case (a, b) =>
      assert(!(keptIds.contains(a) && keptIds.contains(b)), s"pair ($a,$b) both kept")
    }
    // all non-duplicated docs survive
    val inPairs = pairs.flatMap(t => Set(t._1, t._2))
    val singletons = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet -- inPairs
    assert(singletons.subsetOf(keptIds))
    assert(kept.count() == docs.count() - (docs.count() - keptIds.size))
  }

  test("dropNearDuplicatesKeepBest keeps the highest-score member, min id on ties") {
    // score = -doc_id makes argmax-by-score == argmin-by-id: must equal the base variant
    val base = Dedup.dropNearDuplicates(docs, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val negId = Dedup.dropNearDuplicatesKeepBest(docs, col("doc_id"), col("text"), -col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(negId == base)
    // hand corpus: {1,2,3} near-dup family (scores 5, 9, 9), {4} singleton.
    // Best score 9 is tied between 2 and 3 -> keep 2; singleton 4 survives.
    val t = "the quick brown fox jumps over the lazy dog again and again today"
    val hand = spark.createDataFrame(Seq(
      (1L, t, 5L), (2L, t + " ok", 9L), (3L, t + " yes", 9L),
      (4L, "completely unrelated text with no shared shingles at all whatsoever", 7L)
    )).toDF("id", "text", "sc")
    val kept = Dedup.dropNearDuplicatesKeepBest(hand, col("id"), col("text"), col("sc"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("dropSeenNearDups vs a frozen MinHash store == cross-half LSH pair analysis") {
    val dir = java.nio.file.Files.createTempDirectory("mhstore").toString
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    Dedup.buildMinhashStore(even, col("doc_id"), col("text"), dir)
    val surv = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // ground truth from the symmetric pair operator: odd ids with an even partner
    val pairs = pairSet(Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))
    val hit = pairs.collect { case (a, b) if a % 2 != b % 2 =>
      if (a % 2 == 1) a else b }
    val oddIds = odd.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(hit.nonEmpty) // the corpus must actually exercise drops
    assert(surv == oddIds -- hit)
    // self-gate: every stored doc is its own near-duplicate -> all dropped
    // (docs under n tokens have no shingles, are unstored, and survive)
    val shingleless = even.filter(size(split(col("text"), " ")) < 3).count()
    assert(Dedup.dropSeenNearDups(even, col("doc_id"), col("text"), dir).count()
      == shingleless)
  }

  test("takedown: tombstoned store docs can never flag a probe again") {
    val dir = java.nio.file.Files.createTempDirectory("mhdel").toString
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    Dedup.buildMinhashStore(even, col("doc_id"), col("text"), dir)
    Dedup.deleteFromMinhashStore(even.filter(col("doc_id") % 8 === 0)
      .select(col("doc_id")), col("doc_id"), dir, batchId = 0L)
    val surv = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // ground truth: gate against a store REBUILT without the deleted docs
    val rebuilt = java.nio.file.Files.createTempDirectory("mhdel2").toString
    Dedup.buildMinhashStore(even.filter(col("doc_id") % 8 =!= 0),
      col("doc_id"), col("text"), rebuilt)
    val want = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), rebuilt)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(surv == want)
    // a one-pass REBUILD over the tombstoned path clears the tombstones
    Dedup.buildMinhashStore(even, col("doc_id"), col("text"), dir)
    val cleared = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val full = java.nio.file.Files.createTempDirectory("mhdel3").toString
    Dedup.buildMinhashStore(even, col("doc_id"), col("text"), full)
    val wantFull = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), full)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(cleared == wantFull)
    // removing store docs can only grow the survivor set
    assert(wantFull.subsetOf(surv))
    intercept[IllegalArgumentException] {
      Dedup.deleteFromMinhashStore(even.select(col("doc_id")), col("doc_id"), dir, -1L)
    }
  }

  test("LSH compaction: verdicts unchanged, one segment, tombstones gone") {
    val dir = java.nio.file.Files.createTempDirectory("mhcmp2").toString
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    Dedup.initMinhashStore(spark, dir)
    Dedup.appendMinhashBatch(even, col("doc_id"), col("text"), dir, 0L)
    Dedup.deleteFromMinhashStore(even.filter(col("doc_id") % 8 === 0)
      .select(col("doc_id")), col("doc_id"), dir, 0L)
    val before = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Dedup.compactMinhashStore(spark, dir)
    val after = Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(after == before && after.nonEmpty)
    def segs(t: String) = Option(new java.io.File(s"$dir/$t").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("batch_id="))
    assert(segs("bands") == 1 && segs("shingles") == 1)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // appends resume beside the compacted segment, batch id 0 reusable
    Dedup.appendMinhashBatch(even.limit(0), col("doc_id"), col("text"), dir, 0L)
    assert(Dedup.dropSeenNearDups(odd, col("doc_id"), col("text"), dir)
      .count() == before.size)

    // the cosine twin
    val cdir = java.nio.file.Files.createTempDirectory("clcmp").toString
    val evenV = embs.filter(col("vec_id") % 2 === 0)
    val oddV = embs.filter(col("vec_id") % 2 === 1)
    Dedup.initCosineLshStore(spark, cdir, tables = 48, planes = 3)
    Dedup.appendCosineLshBatch(evenV, col("vec_id"), col("embedding"), cdir, 0L)
    Dedup.deleteFromCosineLshStore(evenV.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id")), col("vec_id"), cdir, 0L)
    val beforeC = Dedup.dropSeenCosine(oddV, col("vec_id"), col("embedding"),
        cdir, threshold = 0.42)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    Dedup.compactCosineLshStore(spark, cdir)
    val afterC = Dedup.dropSeenCosine(oddV, col("vec_id"), col("embedding"),
        cdir, threshold = 0.42)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(afterC == beforeC && afterC.nonEmpty)
  }

  test("production-config cosine-LSH lane: ingest-fold and compact-fold serve-identity at autoPlanes") {
    // dev/coslsh_prod_lane.scala's sf1 identities, pinned at suite scale
    // (the GraphAnnSpec NSW-regime pattern): at the PRODUCTION config —
    // planes auto-sized by the measured log2 rule, not the oracle-
    // anchoring 48/3 — the init+append ingest store and the
    // append+delete+compact store must serve the SAME gate verdicts as a
    // one-pass build over the same remaining corpus. An auto-sizing or
    // lifecycle regression now fails CI instead of a hand-run sf1 script.
    val evenV = embs.filter(col("vec_id") % 2 === 0)
    val oddV = embs.filter(col("vec_id") % 2 === 1)
    val prodPlanes = Dedup.autoPlanes(evenV.count())
    def gate(path: String): Set[Long] =
      Dedup.dropSeenCosine(oddV, col("vec_id"), col("embedding"), path,
        threshold = 0.42).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // one-pass reference at planes = 0: the build must RESOLVE the auto
    // rule to the same value the lane computes (sidecar-recorded)
    val oneDir = java.nio.file.Files.createTempDirectory("clprod1").toString
    Dedup.buildCosineLshStore(evenV, col("vec_id"), col("embedding"), oneDir,
      tables = 8, planes = 0)
    val params = graft.sources.Sidecar
      .readText(spark, oneDir + "/_graft_coslsh_params").split(" ")
    assert(params(1).toInt == prodPlanes,
      s"planes=0 must resolve to autoPlanes: ${params.toSeq} vs $prodPlanes")
    val onePass = gate(oneDir)
    assert(onePass.size < oddV.count(),
      "fixture must drop at least one near-dup at the production config")
    // ingest-fold: init + two appends == the one-pass build
    val inDir = java.nio.file.Files.createTempDirectory("clprod2").toString
    Dedup.initCosineLshStore(spark, inDir, tables = 8, planes = prodPlanes)
    Dedup.appendCosineLshBatch(evenV.filter(col("vec_id") % 4 === 0),
      col("vec_id"), col("embedding"), inDir, 0L)
    Dedup.appendCosineLshBatch(evenV.filter(col("vec_id") % 4 === 2),
      col("vec_id"), col("embedding"), inDir, 1L)
    graft.sources.Sidecar.markComplete(spark, inDir)
    assert(gate(inDir) == onePass, "ingest-fold identity at the production config")
    // compact-fold: append + delete + compact == one-pass over the REMAINING
    val cpDir = java.nio.file.Files.createTempDirectory("clprod3").toString
    Dedup.initCosineLshStore(spark, cpDir, tables = 8, planes = prodPlanes)
    Dedup.appendCosineLshBatch(evenV, col("vec_id"), col("embedding"), cpDir, 0L)
    Dedup.deleteFromCosineLshStore(evenV.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id")), col("vec_id"), cpDir, 0L)
    Dedup.compactCosineLshStore(spark, cpDir)
    graft.sources.Sidecar.markComplete(spark, cpDir)
    val refDir = java.nio.file.Files.createTempDirectory("clprod4").toString
    Dedup.buildCosineLshStore(evenV.filter(col("vec_id") % 8 =!= 0),
      col("vec_id"), col("embedding"), refDir, tables = 8, planes = prodPlanes)
    assert(gate(cpDir) == gate(refDir), "compact-fold identity at the production config")
  }

  test("cosine takedown: tombstoned vectors can never flag a probe again") {
    val dir = java.nio.file.Files.createTempDirectory("cldel").toString
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    Dedup.buildCosineLshStore(even, col("vec_id"), col("embedding"),
      dir, tables = 48, planes = 3)
    Dedup.deleteFromCosineLshStore(even.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id")), col("vec_id"), dir, batchId = 0L)
    val kept = Dedup.dropSeenCosine(odd, col("vec_id"), col("embedding"),
        dir, threshold = 0.42)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // exact replay against the remaining store vectors
    val hit = odd.as("a").join(
        even.filter(col("vec_id") % 8 =!= 0).as("b"),
        Dedup.cosine(col("a.embedding"), col("b.embedding")) >= 0.42)
      .select(col("a.vec_id")).collect().map(_.getLong(0)).toSet
    val want = odd.select(col("vec_id")).collect().map(_.getLong(0)).toSet -- hit
    assert(kept.nonEmpty && kept == want)
  }

  test("exact dedup keeps every distinct content exactly once") {
    val d = Dedup.exact(docs, col("doc_id"), col("text"))
    val total = docs.count()
    val sums = d.agg(sum(col("dup_count"))).collect()(0).getLong(0)
    assert(sums == total) // partition of the corpus
    assert(d.count() == docs.select(col("text")).distinct().count())
  }

  test("IVF with nprobe == nlist equals brute force") {
    val q = embs.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, nlist = 8, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute)
  }

  test("pqTopK: lossless config == exact euclidean top-k; compressing config beats chance") {
    val q = embs.filter(col("vec_id") < 5)
    // exact euclidean top-3 computed naively on the driver
    val all = embs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
    val exact = all.filter(_._1 < 5).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (cid, cv) => (qid, cid, d2(qv, cv)) }
        .sortBy(t => (t._3, t._2)).take(3).zipWithIndex
        .map { case ((a, b, _), i) => (a, b, i + 1) }
    }.toSet
    // ksub >= corpus, iters = 0: the codebook IS the corpus subvectors, the
    // ADC sum telescopes to the true distance — exact, like IVF nprobe=nlist
    val lossless = Similarity.pqTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, m = 8, ksub = 500,
        iters = 0, sampleN = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(lossless == exact)
    // 16-entry codebooks (16x compression of a float32 corpus): random
    // embeddings are PQ's worst case (no low-dim structure), measured
    // recall@3 = 0.2 here vs ~0.006 for chance — assert it stays well above
    val lossy = Similarity.pqTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, m = 8, ksub = 16, iters = 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ex2 = exact.map(t => (t._1, t._2))
    assert(lossy.intersect(ex2).size.toDouble / ex2.size >= 0.15)
    // guard: dims not divisible by m
    val e3 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, m = 7, ksub = 16)
    }
    assert(e3.getMessage.contains("not divisible"))
  }

  test("ivfPqTopK: all-cells lossless == brute force; pruned compressing config beats chance") {
    val q = embs.filter(col("vec_id") < 5)
    // exact euclidean top-3 computed naively on the driver
    val all = embs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
    val brute = all.filter(_._1 < 5).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (cid, cv) => (qid, cid, d2(qv, cv)) }
        .sortBy(t => (t._3, t._2)).take(3).zipWithIndex
        .map { case ((a, b, _), i) => (a, b, i + 1) }
    }.toSet
    // nprobe = nlist + lossless residual codebook: both approximations off
    val lossless = Similarity.ivfPqTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, nlist = 8, nprobe = 8,
        m = 8, ksub = 500, iters = 0, sampleN = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(lossless == brute)
    // both approximations ON (cell pruning to 4/8 cells + 16-entry
    // codebooks): random embeddings are the worst case; measured recall@3
    // 0.13 vs ~0.006 chance — assert it stays an order of magnitude above
    val lossy = Similarity.ivfPqTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 3, nlist = 8, nprobe = 4,
        m = 8, ksub = 16, iters = 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ex2 = brute.map(t => (t._1, t._2))
    assert(lossy.intersect(ex2).size.toDouble / ex2.size >= 0.08)
  }

  test("ivfPq store == live ivfPqTopK for lossless and compressing configs") {
    val q = embs.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    for ((ksub, iters, tag) <- Seq((500, 0, "lossless"), (16, 3, "lossy"))) {
      val path = s"$dir/$tag"
      Similarity.buildIvfPqIndex(embs, path, col("vec_id"), col("embedding"),
        nlist = 8, m = 8, ksub = ksub, iters = iters, sampleN = 500)
      val live = Similarity.ivfPqTopK(embs, q, col("vec_id"), col("vec_id"),
          col("embedding"), col("embedding"), k = 3, nlist = 8, nprobe = 4,
          m = 8, ksub = ksub, iters = iters, sampleN = 500)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val stored = Similarity.ivfPqTopKIndexed(q, path, col("vec_id"),
          col("embedding"), k = 3, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(stored == live, s"$tag store diverged from the live plan")
      assert(stored.nonEmpty)
    }
  }

  test("OPQ: lossless rotation preserves exact top-k; recall >= plain PQ on anisotropic data") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // planted ANISOTROPIC CORRELATED data — the case OPQ exists for:
    // independent coordinates with a decaying spectrum, then mixed through
    // two Householder reflections so raw coordinates are correlated and
    // axis-aligned subspace splits cut across the structure
    val dim = 16
    val rnd = new scala.util.Random(11)
    def householder(seed: Int): Array[Array[Double]] = {
      val r = new scala.util.Random(seed)
      val u = Array.fill(dim)(r.nextGaussian())
      val n = math.sqrt(u.map(x => x * x).sum)
      val un = u.map(_ / n)
      Array.tabulate(dim, dim)((i, j) =>
        (if (i == j) 1.0 else 0.0) - 2.0 * un(i) * un(j))
    }
    val h1 = householder(7); val h2 = householder(13)
    def mix(z: Array[Double]): Array[Double] = {
      def mv(a: Array[Array[Double]], v: Array[Double]) =
        Array.tabulate(dim)(i => (0 until dim).map(j => a(i)(j) * v(j)).sum)
      mv(h2, mv(h1, z))
    }
    val stds = Array.tabulate(dim)(i => math.pow(0.5, i) * 10.0) // steep spectrum
    val data = (0 until 400).map { i =>
      val z = Array.tabulate(dim)(d => rnd.nextGaussian() * stds(d))
      (i.toLong, mix(z).map(_.toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val q = data.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("opq").toString
    // 1) lossless degenerate: the rotation is orthonormal, so exact
    //    euclidean top-k THROUGH the rotated store equals plain brute top-k
    Similarity.buildPqIndex(data, s"$dir/lossless", col("vec_id"), col("embedding"),
      m = 8, ksub = 400, iters = 0, sampleN = 400, opq = true)
    val losslessEu = Similarity.pqTopKIndexed(q, s"$dir/lossless",
        col("vec_id"), col("embedding"), k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // PQ ranks by euclidean — the ground truth is exact euclidean top-5
    // computed on the driver (bruteTopK is cosine, a different metric)
    val all = data.collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val bruteEu = all.filter(_._1 < 10).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (cid, cv) =>
          (qid, cid, qv.indices.map(j => (qv(j) - cv(j)) * (qv(j) - cv(j))).sum) }
        .sortBy(t => (t._3, t._2)).take(5).map(t => (t._1, t._2))
    }.toSet
    assert(losslessEu == bruteEu, "OPQ lossless degenerate must equal exact euclidean")
    // 2) compressing config: OPQ recall must beat (>=) unrotated PQ —
    //    axis-aligned subspaces cut across the mixed spectrum, the
    //    eigenvalue-allocated rotation restores it (measured recall@5
    //    0.56 vs 0.40 at this seed; asserted with slack)
    def recall(path: String): Double = {
      val got = Similarity.pqTopKIndexed(q, path, col("vec_id"), col("embedding"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(bruteEu).size.toDouble / bruteEu.size
    }
    Similarity.buildPqIndex(data, s"$dir/pq", col("vec_id"), col("embedding"),
      m = 8, ksub = 8, iters = 3, sampleN = 400)
    Similarity.buildPqIndex(data, s"$dir/opq", col("vec_id"), col("embedding"),
      m = 8, ksub = 8, iters = 3, sampleN = 400, opq = true)
    val (rPq, rOpq) = (recall(s"$dir/pq"), recall(s"$dir/opq"))
    assert(rOpq >= rPq, s"OPQ recall $rOpq must be >= plain PQ recall $rPq")
    assert(rOpq > rPq + 0.1, s"OPQ should clearly win on planted anisotropy: $rOpq vs $rPq")
    // 3) train/add split: batches appended under the frozen rotation serve
    //    exactly like the one-pass OPQ build
    Similarity.trainPqCodebooks(data, s"$dir/seg", col("vec_id"), col("embedding"),
      m = 8, ksub = 8, iters = 3, sampleN = 400, opq = true)
    Similarity.appendPqBatch(data.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), s"$dir/seg", batchId = 0L)
    Similarity.appendPqBatch(data.filter(col("vec_id") % 2 === 1),
      col("vec_id"), col("embedding"), s"$dir/seg", batchId = 1L)
    val seg = Similarity.pqTopKIndexed(q, s"$dir/seg", col("vec_id"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val one = Similarity.pqTopKIndexed(q, s"$dir/opq", col("vec_id"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(seg == one, "segmented OPQ store diverged from the one-pass build")
    // 4) IVF-PQ composition in the everything-off degenerate: rotation +
    //    cell pruning + residual codebooks still equal exact euclidean
    Similarity.buildIvfPqIndex(data, s"$dir/ivfopq", col("vec_id"), col("embedding"),
      nlist = 8, m = 8, ksub = 400, iters = 0, sampleN = 400, opq = true)
    val ivf = Similarity.ivfPqTopKIndexed(q, s"$dir/ivfopq",
        col("vec_id"), col("embedding"), k = 5, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == bruteEu, "IVF-PQ OPQ lossless degenerate must equal exact euclidean")
  }

  test("kmeans: hand case converges, keeps stable ids, ties to lower cluster") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // two obvious 1-D clusters around 0 and 10; ids 1,2 seed clusters 0,1
    val pts = Seq((1L, Array(0.0f)), (2L, Array(0.4f)), (3L, Array(10.0f)),
                  (4L, Array(10.4f)), (5L, Array(0.2f)))
      .toDF("id", "vec")
    val got = Similarity.kmeans(pts, col("id"), col("vec"), k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // iteration 1 pulls cluster 1's centroid (seed 0.4) to the far group:
    // assign(c0): {1,5}->0, {2,3,4}->1; update: c0=0.1, c1=6.93; then the
    // stable fixpoint {1,2,5}->0, {3,4}->1
    assert(got == Map(1L -> 0, 2L -> 0, 5L -> 0, 3L -> 1, 4L -> 1))
    // iters = 0: assignment against the raw seeds, tie (id 2 equidistant?
    // no — exact midpoint 0.2 ties between seeds 0.0 and 0.4) -> lower id
    val g0 = Similarity.kmeans(pts, col("id"), col("vec"), k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g0(5L) == 0 && g0(1L) == 0 && g0(2L) == 1 && g0(3L) == 1)
    // dist column is the squared euclidean to the final centroid
    val d = Similarity.kmeans(pts, col("id"), col("vec"), k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // centroid 10.2, point 10.0 (1e-6: the 10.4f literal is not exactly 10.4)
    assert(math.abs(d(3L) - 0.04) < 1e-6)
  }

  test("semanticDedup: hand case — clusters bound the groups, min id survives") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // two far-apart 2-D clusters; within each, two near-parallel vectors
    // (cos ~ 1) and one orthogonal-ish outlier. Seeds: ids 1, 2.
    val pts = Seq(
      (1L, Array(10.0f, 0.1f)), (3L, Array(10.0f, 0.2f)),   // near-dups, cluster A
      (5L, Array(0.1f, 9.0f)),                              // outlier in A-or-B
      (2L, Array(-10.0f, -0.1f)), (4L, Array(-10.0f, -0.2f)) // near-dups, cluster B
    ).toDF("id", "vec")
    val kept = Dedup.semanticDedup(pts, col("id"), col("vec"),
        k = 2, iters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0)).toSet
    // each near-dup pair collapses to its min id; the outlier survives
    assert(kept == Set(1L, 2L, 5L))
  }

  test("semanticDedup k=1 == exact-pair closure (differential)") {
    // with one cluster the operator degenerates to: exact cosine pairs,
    // connected components, min id — replay that directly from
    // cosinePairsExact + ConnectedComponents and compare survivors.
    // maxCluster > 500 so the single all-rows cluster stays uncapped (the
    // capped path has its own hot-cluster test below)
    val kept = Dedup.semanticDedup(embs, col("vec_id"), col("embedding"),
        k = 1, iters = 0, threshold = 0.42, maxCluster = 1000)
      .collect().map(_.getLong(0)).toSet
    val pairs = Dedup.cosinePairsExact(embs, col("vec_id"), col("embedding"), 0.42)
      .select(col("id_a").cast("long").as("__a"), col("id_b").cast("long").as("__b"))
      .union(embs.select(col("vec_id").cast("long").as("__a"),
        col("vec_id").cast("long").as("__b")))
    val comps = graft.operators.ConnectedComponents.run(pairs)
    val want = comps.groupBy(col("__comp")).agg(min(col("__id")).as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(kept.nonEmpty && kept == want)
  }

  test("semanticDedup hot cluster ≫ cap: star candidates keep the survivor set") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // one near-identical family of 30 (the boilerplate collapse that makes
    // a k-means cluster blow past any cap) plus two far-away distinct
    // vectors. With cap 8 the family cluster goes through the star path —
    // every star edge passes the cosine refine, so the closure (and the
    // min-id survivor set) must equal the uncapped run.
    val fam = (1L to 30L).map(i => (i, Array(100.0f, i.toFloat / 1000f)))
    val solo = Seq((40L, Array(-50.0f, 80.0f)), (41L, Array(60.0f, -90.0f)))
    val pts = (fam ++ solo).toDF("id", "vec")
    def run(cap: Int) = Dedup.semanticDedup(pts, col("id"), col("vec"),
        k = 3, iters = 2, threshold = 0.99, maxCluster = cap)
      .collect().map(_.getLong(0)).toSet
    val capped = run(8)
    val uncapped = run(1000)
    assert(capped == uncapped, s"capped=$capped uncapped=$uncapped")
    assert(capped == Set(1L, 40L, 41L))
  }

  test("prototypePrune: per-cluster rank on distance keeps the diverse tail") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // 1-D, k=2: clusters {1,2} (centroid 0.5) and {3,4} (centroid 10.5) —
    // every dist is exactly 0.25, so ranks fall to the id tiebreak: keeping
    // 1/2 per cluster keeps the LOWER id of each (dist desc, id asc)
    val pts = Seq((1L, Array(0.0f)), (2L, Array(1.0f)),
                  (3L, Array(10.0f)), (4L, Array(11.0f))).toDF("id", "vec")
    val kept = Similarity.prototypePrune(pts, col("id"), col("vec"),
        k = 2, iters = 2, keepNum = 1, keepDen = 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("assignSplitByFamily: a near-dup family shares one split; singletons match the plain rule") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val familyText = "this exact boilerplate sentence is repeated verbatim " +
      "across every member of the duplicated family of documents"
    val family = (100L to 104L).map(i => (i, familyText))
    val singles = (200L to 219L).map(i =>
      (i, s"distinct document $i talking about topic number ${i * 37} only here"))
    val corpus = (family ++ singles).toDF("doc_id", "text").localCheckpoint()
    val fractions = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val got = Dedup.assignSplitByFamily(corpus, col("doc_id"), col("text"),
        "fam-v1", fractions)
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 25)
    // the whole family carries ONE label — the representative's (min id)
    val famLabels = (100L to 104L).map(got).toSet
    assert(famLabels.size == 1)
    // singletons are their own representative: identical to plain assignSplit
    val plain = graft.operators.Pipeline.assignSplit(
        corpus.filter(col("doc_id") >= 200), col("doc_id"), "fam-v1", fractions)
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((200L to 219L).forall(i => got(i) == plain(i)))
    // and the family label is what the representative id alone would get
    val repOnly = graft.operators.Pipeline.assignSplit(
        corpus.filter(col("doc_id") === 100), col("doc_id"), "fam-v1", fractions)
      .collect().map(_.getString(2)).head
    assert(famLabels.head == repOnly)
  }

  test("cosine gate == exact anti-join differential (store round trip)") {
    val tmp = java.nio.file.Files.createTempDirectory("clstore").toString
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    Dedup.buildCosineLshStore(even, col("vec_id"), col("embedding"),
      tmp, tables = 48, planes = 3)
    val kept = Dedup.dropSeenCosine(odd, col("vec_id"), col("embedding"),
        tmp, threshold = 0.42)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // exact replay: odd ids with at least one even cosine-partner >= 0.42
    val hit = odd.as("a").join(even.as("b"),
        Dedup.cosine(col("a.embedding"), col("b.embedding")) >= 0.42)
      .select(col("a.vec_id")).collect().map(_.getLong(0)).toSet
    val want = odd.select(col("vec_id")).collect().map(_.getLong(0)).toSet -- hit
    assert(kept.nonEmpty && kept == want)
  }

  test("PCA: recovers planted axes, whitening normalizes, store round-trips") {
    import graft.operators.Similarity
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val rnd = new scala.util.Random(5)
    // planted spectrum in 8-d: variance 100 along e0, 25 along e1, 1 elsewhere
    val data = (0 until 400).map { i =>
      val v = Array.tabulate(8)(_ => (rnd.nextGaussian()).toFloat)
      v(0) = (rnd.nextGaussian() * 10).toFloat
      v(1) = (rnd.nextGaussian() * 5).toFloat
      (i.toLong, v)
    }.toDF("id", "vec")
    val mdl = Similarity.fitPca(data, col("id"), col("vec"), m = 3,
      iters = 200, sampleN = 400)
    // axis recovery: |<v0, e0>| and |<v1, e1>| near 1
    assert(math.abs(mdl.components(0)(0)) > 0.95, mdl.components(0).mkString(","))
    assert(math.abs(mdl.components(1)(1)) > 0.95, mdl.components(1).mkString(","))
    assert(mdl.eigenvalues(0) > mdl.eigenvalues(1) &&
      mdl.eigenvalues(1) > mdl.eigenvalues(2))
    assert(mdl.eigenvalues(0) > 60 && mdl.eigenvalues(0) < 140) // ~100
    // orthonormality
    for (a <- 0 until 3; b <- a until 3) {
      val dot = (0 until 8).map(i => mdl.components(a)(i) * mdl.components(b)(i)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-6, s"($a,$b)=$dot")
    }
    // determinism: refit is identical
    val mdl2 = Similarity.fitPca(data, col("id"), col("vec"), m = 3,
      iters = 200, sampleN = 400)
    assert(mdl.components.flatten.toSeq == mdl2.components.flatten.toSeq)
    // whitening: unit variance per axis on the fitting sample
    val white = Similarity.pcaProject(data, col("vec"), mdl, whiten = true)
    for (k <- 1 to 3) {
      val v = white.agg(var_pop(element_at(col("pca"), k))).head().getDouble(0)
      assert(v > 0.98 && v < 1.02, s"axis $k variance $v")
    }
    // store round-trip: identical projections
    val dir = java.nio.file.Files.createTempDirectory("pcastore").toString
    Similarity.savePca(spark2, mdl, dir)
    val loaded = Similarity.loadPca(spark2, dir)
    val a = Similarity.pcaProject(data, col("vec"), mdl)
      .select(col("id"), col("pca")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Similarity.pcaProject(data, col("vec"), loaded)
      .select(col("id"), col("pca")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      Similarity.fitPca(data, col("id"), col("vec"), m = 9, sampleN = 400)
    }
  }

  test("kmeans guards: duplicate seed ids, null and non-finite embeddings fail loudly") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // duplicate id INSIDE the seed window: the k-smallest-ids seed rule
    // would be left to partition arrival order — reject, don't guess
    val dup = Seq((1L, Array(0.0f)), (1L, Array(5.0f)), (3L, Array(9.0f)))
      .toDF("id", "vec")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.kmeans(dup, col("id"), col("vec"), k = 2, iters = 1)
    }
    assert(e1.getMessage.contains("duplicate ids"))
    // NaN embedding: every distance is NaN — without the guard the row
    // would silently land in the first cluster
    val nan = Seq((1L, Array(0.0f)), (2L, Array(9.0f)), (3L, Array(Float.NaN)))
      .toDF("id", "vec")
    val e2 = intercept[Exception] {
      Similarity.kmeans(nan, col("id"), col("vec"), k = 2, iters = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("non-finite")), messages(e2).mkString(" | "))
  }

  test("knnClassify: hand-computed majority vote with deterministic ties") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // 2-D unit-ish vectors: queries 100/101 sit near the +x / +y clusters
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.99f, 0.1f), "a"),
      (3L, Array(0.98f, 0.2f), "b"),
      (4L, Array(0.0f, 1.0f), "b"), (5L, Array(0.1f, 0.99f), "b"),
      (6L, Array(0.2f, 0.98f), "a")
    ).toDF("id", "vec", "lbl")
    val queries = Seq((100L, Array(1.0f, 0.05f)), (101L, Array(0.05f, 1.0f)))
      .toDF("qid", "qvec")
    val got = Similarity.knnClassify(corpus, queries, col("id"), col("qid"),
        col("vec"), col("qvec"), col("lbl"), k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(100L) == (("a", 2L))) // neighbors 1,2,3 -> a,a,b
    assert(got(101L) == (("b", 2L))) // neighbors 4,5,6 -> b,b,a
    // an exact vote tie resolves by label ascending (deterministic argmax)
    val pairs = Seq((100L, 1L), (100L, 4L)).toDF("query_id", "neighbor_id")
    val tie = Similarity.labelVote(pairs, corpus, col("id"), col("lbl"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(tie(100L) == (("a", 1L))) // a:1 vs b:1 -> 'a'
  }

  test("randomProject: exact local replay, JL distance preservation, salt independence") {
    // exact replay of the documented md5-sign projection
    val m = Array.tabulate(8, 64) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j:t1".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    val rows = embs.limit(20).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val got = graft.operators.Similarity.randomProject(
        embs.limit(20), col("embedding"), 64, 8, "t1")
      .select(col("vec_id"), col("proj")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { case (id, v) =>
      val want = Array.tabulate(8) { j =>
        var s = 0.0; var i = 0
        while (i < 64) { s += v(i).toDouble * m(j)(i); i += 1 }
        s.toFloat
      }
      assert(got(id).toSeq == want.toSeq)
    }
    // JL property (statistical, seeded, not flaky): with 32 output dims,
    // projected cosine tracks true cosine — mean absolute error well under
    // the JL epsilon for this dim count, and far under a random baseline
    val p32 = graft.operators.Similarity.randomProject(
        embs.limit(50), col("embedding"), 64, 32, "t2")
      .select(col("vec_id"), col("embedding"), col("proj")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val errs = for (a <- p32; b <- p32 if a._1 < b._1)
      yield math.abs(cos(a._2, b._2) - cos(a._3, b._3))
    assert(errs.sum / errs.length < 0.15, s"mean |cos err| = ${errs.sum / errs.length}")
    // a different salt draws a different matrix
    val alt = graft.operators.Similarity.randomProject(
        embs.limit(20), col("embedding"), 64, 8, "t3")
      .select(col("vec_id"), col("proj")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(rows.exists { case (id, _) => alt(id) != got(id).toSeq })
  }

  test("hardNegatives: hand case — exclusion before ranking, band filter, brute differential") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // query 100 points at +x; cosine order: 1, 2, 3, 4, 5
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.1f)),
      (3L, Array(0.95f, 0.3f)), (4L, Array(0.8f, 0.6f)),
      (5L, Array(0.0f, 1.0f))
    ).toDF("id", "vec")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    // 2 is a known positive -> eligible negatives ranked 1,3,4,5 as 1..4;
    // band (1, 3] keeps {3->2, 4->3}
    val pos = Seq((100L, 2L)).toDF("pq", "pid")
    val got = Similarity.hardNegatives(corpus, queries, pos,
        col("id"), col("qid"), col("vec"), col("qvec"),
        col("pq"), col("pid"), skip = 1, take = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    assert(got == Map(3L -> 2, 4L -> 3))
    // no-positives degenerate: band (0, k] over everything == bruteTopK
    val none = Seq.empty[(Long, Long)].toDF("pq", "pid")
    val viaHn = Similarity.hardNegatives(embs, embs.filter(col("vec_id") < 5), none,
        col("vec_id"), col("vec_id"), col("embedding"), col("embedding"),
        col("pq"), col("pid"), skip = 0, take = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteTopK(embs, embs.filter(col("vec_id") < 5),
        col("vec_id"), col("vec_id"), col("embedding"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHn == brute && brute.nonEmpty)
  }

  test("scalarQuantize: codes are int8-ranged, encode/decode replays locally, recall holds") {
    val model = Similarity.scalarQuantModel(embs, col("embedding"))
    val (mins, maxs) = Similarity.collectScalarModel(model)
    assert(mins.length == 64 && maxs.length == 64)
    val rows = Similarity.scalarQuantize(embs, col("embedding"), mins, maxs)
      .withColumn("dec", Similarity.scalarDecode(col("codes"), mins, maxs))
      .select(col("vec_id"), col("embedding"), col("codes"), col("dec"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val codes = r.getSeq[Int](2)
      val dec = r.getSeq[Float](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      codes.indices.foreach { i =>
        val span = maxs(i) - mins(i)
        val want = if (span == 0.0) 0
                   else (math.round(254.0 * (v(i).toDouble - mins(i)) / span) - 127L).toInt
        assert(codes(i) == want, s"code dim $i of ${r.getLong(0)}")
        val wantDec = (mins(i) + (want.toDouble + 127.0) * span / 254.0).toFloat
        assert(dec(i) == wantDec, s"decode dim $i")
        // quantization error bounded by half a step
        assert(math.abs(dec(i) - v(i)) <= span / 254.0 / 2 + 1e-6, s"err dim $i")
      }
    }
    // degenerate constant dimension quantizes to code 0, decodes to itself
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val const = Seq((1L, Array(5.0f, 1.0f)), (2L, Array(5.0f, 3.0f))).toDF("id", "v")
    val cm = Similarity.collectScalarModel(Similarity.scalarQuantModel(const, col("v")))
    val cRows = Similarity.scalarQuantize(const, col("v"), cm._1, cm._2)
      .select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(cRows.forall(_.head == 0))
    // end-to-end: quantized top-5 recalls >= 60% of the exact brute top-5
    // (64-d gaussian data at 1/4 the bytes; ties/borders cost a few slots)
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.bruteTopKQuantized(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 5, mins, maxs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quant.size == brute.size)
    assert((brute intersect quant).size * 10 >= brute.size * 6,
      s"recall ${(brute intersect quant).size}/${brute.size}")
  }

  test("signQuantize packs the md5-hyperplane sign bits; binaryTopK recalls the brute set") {
    val bits = 128
    val coded = Similarity.signQuantize(embs, col("embedding"),
      dim = 64, bits = bits, salt = "sb1")
    // local replay: recompute the matrix + signs per row, compare the packs
    val m = Array.tabulate(bits, 64) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j:sb1".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    coded.select(col("embedding"), col("code")).collect().foreach { r =>
      val v = r.getSeq[Float](0)
      val words = new Array[Long](bits / 64)
      (0 until bits).foreach { j =>
        var s = 0.0
        (0 until 64).foreach(i => s += v(i).toDouble * m(j)(i))
        if (s > 0.0) words(j >> 6) |= (1L << (j & 63))
      }
      assert(r.getSeq[Long](1) == words.toSeq)
    }
    // identical vectors get identical codes (Hamming 0); the candidate cut
    // plus exact rerank recalls most of the true brute top-5
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = Similarity.binaryTopK(coded, coded.filter(col("vec_id") < 10),
        col("vec_id"), col("vec_id"), col("code"), col("code"),
        col("embedding"), col("embedding"), k = 5, cand = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bin.size == brute.size)
    assert((brute intersect bin).size * 10 >= brute.size * 6,
      s"recall ${(brute intersect bin).size}/${brute.size}")
    // cand = corpus size degenerates to the exact brute answer
    val full = Similarity.binaryTopK(coded, coded.filter(col("vec_id") < 3),
        col("vec_id"), col("vec_id"), col("code"), col("code"),
        col("embedding"), col("embedding"), k = 5, cand = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute3 = Similarity.bruteTopK(embs, embs.filter(col("vec_id") < 3),
        col("vec_id"), col("vec_id"), col("embedding"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute3)
  }

  test("binary store: indexed search == live search; block rows recombine to the codes") {
    val tmp = java.nio.file.Files.createTempDirectory("binidx").toString
    Similarity.buildBinaryIndex(embs, s"$tmp/idx", col("vec_id"), col("embedding"),
      dim = 64, bits = 128, salt = "sb1")
    val stored = pairSet(Similarity.binaryTopKIndexed(embs.filter(col("vec_id") < 10),
      s"$tmp/idx", col("vec_id"), col("embedding"), k = 5, cand = 50))
    val coded = Similarity.signQuantize(embs, col("embedding"),
      dim = 64, bits = 128, salt = "sb1")
    val live = pairSet(Similarity.binaryTopK(coded, coded.filter(col("vec_id") < 10),
      col("vec_id"), col("vec_id"), col("code"), col("code"),
      col("embedding"), col("embedding"), k = 5, cand = 50))
    assert(stored == live && stored.nonEmpty)
    // every pigeonhole block row is exactly its slice of its own code,
    // and the table is DISTINCT on (b, w, code) — one row per distinct
    // code per block, no id (the hot-family collapse)
    val codes = spark.read.parquet(s"$tmp/idx/codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val blockRows = spark.read.parquet(s"$tmp/idx/blocks").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    assert(blockRows.length == blockRows.distinct.length)
    assert(blockRows.map(_._3.toList).toSet == codes.values.map(_.toList).toSet)
    blockRows.foreach { case (b, w, code) =>
      val word = code((b * 32) / 64)
      assert(((word >>> ((b * 32) % 64)) & 0xffffffffL) == w)
    }
    assert(blockRows.length == codes.values.map(_.toList).toSet.size * 4)
  }

  test("dropSeenHamming == brute Hamming filter; pigeonhole contract is loud") {
    val tmp = java.nio.file.Files.createTempDirectory("binham").toString
    Similarity.buildBinaryIndex(embs.filter(col("vec_id") % 2 === 1), s"$tmp/idx",
      col("vec_id"), col("embedding"), dim = 64, bits = 128, salt = "sb1", blocks = 4)
    // batch = the whole corpus: stored odds are Hamming-0 to themselves
    // (must drop), evens are ~30 bits from every odd (must land)
    val kept = Similarity.dropSeenHamming(embs, col("vec_id"), col("embedding"),
        s"$tmp/idx", maxHamming = 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val codes = Similarity.signQuantize(embs, col("embedding"),
        dim = 64, bits = 128, salt = "sb1")
      .select(col("vec_id"), col("code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def ham(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val odds = codes.keys.filter(_ % 2 == 1).toSeq
    val expect = codes.keys.filter(id =>
      odds.forall(o => ham(codes(id), codes(o)) > 3)).toSet
    assert(kept == expect)
    assert(kept.nonEmpty && !kept.exists(_ % 2 == 1))
    // radius >= blocks would break pigeonhole exactness -> refuse loudly
    val err = intercept[IllegalArgumentException] {
      Similarity.dropSeenHamming(embs, col("vec_id"), col("embedding"),
        s"$tmp/idx", maxHamming = 4)
    }
    assert(err.getMessage.contains("blocks"))
  }

  test("dropSeenHamming hot family: verdicts ride distinct codes, exactness intact") {
    // the adversarial near-dup-gate case: the stream is full of the very
    // boilerplate the store holds — 400 identical vectors collapse to ONE
    // distinct code on each side of the probe join, not 400×400 pairs
    val tmp = java.nio.file.Files.createTempDirectory("binhot").toString
    def vec(seed: Int) = array((0 until 64).map(i =>
      lit(((i * 31 + seed * 7) % 13 - 6).toFloat)): _*)
    val family = spark.range(400).select(col("id").as("vec_id"), vec(1).as("embedding"))
    val distinctStore = spark.range(1000, 1003).select(col("id").as("vec_id"),
      vec(2).as("embedding"))
    Similarity.buildBinaryIndex(family.union(distinctStore), s"$tmp/idx",
      col("vec_id"), col("embedding"), dim = 64, bits = 128, salt = "sbh", blocks = 4)
    // store block table: 2 distinct codes × 4 blocks, not 403 × 4
    assert(spark.read.parquet(s"$tmp/idx/blocks").count() == 8)
    val batch = spark.range(2000, 2400).select(col("id").as("vec_id"), vec(1).as("embedding"))
      .union(spark.range(3000, 3005).select(col("id").as("vec_id"), vec(3).as("embedding")))
    val kept = Similarity.dropSeenHamming(batch, col("vec_id"), col("embedding"),
        s"$tmp/idx", maxHamming = 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // every family copy is Hamming-0 to the stored family code -> dropped;
    // the unseen seed-3 vectors stay (different sign pattern)
    assert(kept == (3000L until 3005L).toSet)
  }

  test("labelVote composes with the IVF pair set (vote source agnostic)") {
    val q = embs.filter(col("vec_id") < 5)
    val brute = Similarity.knnClassify(embs, q, col("vec_id"), col("vec_id"),
        col("embedding"), col("embedding"), col("label"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaIvf = Similarity.labelVote(
        Similarity.ivfTopK(embs, q, col("vec_id"), col("vec_id"),
          col("embedding"), col("embedding"), k = 3, nlist = 8, nprobe = 8)
          .select(col("query_id"), col("neighbor_id")),
        embs, col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIvf == brute && brute.nonEmpty)
  }

  test("IVF quantizer: deterministic, nlist centroids, covers nprobe-1 recall growth") {
    val c = embs.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
    val a = Similarity.fitCentroids(c, nlist = 8, seed = 42L)
    val b = Similarity.fitCentroids(c, nlist = 8, seed = 42L)
    assert(a.length == 8 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.forall(_.length == a(0).length)) // uniform dimension
    // a different seed draws different centers
    val d = Similarity.fitCentroids(c, nlist = 8, seed = 7L)
    assert(!(a.map(_.toSeq).toSeq == d.map(_.toSeq).toSeq))
    // nlist larger than the corpus still yields nlist centers (padded)
    val tiny = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
    assert(Similarity.fitCentroids(tiny, nlist = 16, seed = 42L).length == 16)
  }

  test("knnJoinWithin (two large sides) matches broadcast knnJoin inside the radius") {
    import graft.operators.KNN
    val sup = Tables.supplierPts(spark, "/root/testdata/sf0.001")
    val cus = Tables.customerPts(spark, "/root/testdata/sf0.001").select(col("c_custkey"), col("c_geo"))
    // radius 200 comfortably covers the true 3-NN on this data
    val win = KNN.knnJoinWithin(sup, cus, col("s_geo"), col("c_geo"),
        col("s_suppkey"), k = 3, radius = 200.0, cellSize = 100.0, tieBreak = col("c_custkey"))
      .select(col("s_suppkey"), col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = KNN.knnJoin(sup, cus, "s_geo", "c_geo", leftId = "s_suppkey", k = 3, tieBreak = "c_custkey")
      .select(col("s_suppkey"), col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win == bc)
  }

  test("knnJoin coincident-query collapse: duplicated left geometries get identical results") {
    import graft.operators.KNN
    import spark.implicits._
    // 5,000 left rows over only 40 distinct sites — past the collapse gate
    // (>= 4096 rows, > 25% duplicates), so the expand-radius machine runs
    // per SITE and answers expand back over the coincident rows
    val left = spark.range(5000).select(
      col("id").as("lid"),
      graft.functions.stf.st_point(((col("id") % 40) * 23 % 97).cast("double"),
        ((col("id") % 40) * 41 % 89).cast("double")).as("lgeo"))
      .localCheckpoint()
    val right = spark.range(100).select(
      col("id").as("rid"),
      graft.functions.stf.st_point((col("id") * 13 % 101).cast("double"),
        (col("id") * 29 % 103).cast("double")).as("rgeo"))
      .localCheckpoint()
    val got = KNN.knnJoin(left, right, "lgeo", "rgeo", leftId = "lid",
        k = 3, tieBreak = "rid")
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 5000 * 3)
    val bySite = got.groupBy(_._1 % 40).view.mapValues(_.map(_._2).toSet).toMap
    // driver-computed truth per site
    val rpts = (0 until 100).map(i => (i.toLong, (i * 13 % 101).toDouble, (i * 29 % 103).toDouble))
    for (s <- 0 until 40) {
      val (x, y) = ((s * 23 % 97).toDouble, (s * 41 % 89).toDouble)
      val want = rpts.map { case (rid, rx, ry) =>
        (math.sqrt((rx - x) * (rx - x) + (ry - y) * (ry - y)), rid)
      }.sorted.take(3).map(_._2).toSet
      assert(bySite(s.toLong) == want, s"site $s diverged")
      // every one of the 125 coincident rows per site carries the full k
      assert(got.count(_._1 % 40 == s) == 125 * 3)
    }
  }

  test("knnJoin with k >= right count returns every right row per left (parallel terminal round)") {
    import graft.operators.KNN
    val sup = Tables.supplierPts(spark, "/root/testdata/sf0.001")
    val cus = Tables.customerPts(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey"), col("c_geo")).limit(3).localCheckpoint()
    val nSup = sup.count()
    val res = KNN.knnJoin(sup, cus, "s_geo", "c_geo", leftId = "s_suppkey",
        k = 5, tieBreak = "c_custkey")
    // 3 right rows < k=5: every supplier pairs with all 3 customers
    assert(res.count() == nSup * 3)
    val perLeft = res.groupBy("s_suppkey").count().select(min("count"), max("count")).head()
    assert(perLeft.getLong(0) == 3 && perLeft.getLong(1) == 3)
  }

  test("knnJoin survives a left outlier far outside the right bbox (capped round)") {
    import graft.operators.KNN
    val cus = Tables.customerPts(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey"), col("c_geo")).limit(4).localCheckpoint()
    // one left point astronomically far away: only the terminal round can finish it
    val far = spark.range(1).select(
      lit(999000L).as("s_suppkey"),
      graft.functions.stf.st_point(lit(1.0e7), lit(1.0e7)).as("s_geo"))
    val res = KNN.knnJoin(far, cus, "s_geo", "c_geo", leftId = "s_suppkey",
        k = 2, tieBreak = "c_custkey")
    assert(res.count() == 2) // its true 2 nearest of the 4
  }

  test("knnJoin with polygon left side (large extents exercise the cell-size floor)") {
    import graft.operators.KNN
    import org.apache.spark.sql.expressions.Window
    val n = Tables.nationRects(spark, "/root/testdata/sf0.001")
    val c = Tables.customerPts(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey"), col("c_geo")).localCheckpoint()
    val got = KNN.knnJoin(n, c, "n_geo", "c_geo", leftId = "n_nationkey",
        k = 3, tieBreak = "c_custkey")
      .select(col("n_nationkey"), col("c_custkey")).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    // brute force: window rank over the cross join on centroid distance
    val exp = n.crossJoin(c)
      .withColumn("__d", graft.functions.stf.st_centroid_distance(col("n_geo"), col("c_geo")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("n_nationkey")).orderBy(col("__d"), col("c_custkey"))))
      .filter(col("__rn") <= 3)
      .select(col("n_nationkey"), col("c_custkey")).collect()
      .map(r => (r.get(0), r.get(1))).toSet
    assert(got == exp && exp.nonEmpty)
  }

  // A 20×20 unit grid of right points at the origin plus six sparse ones
  // over a 10,000² plane: queries inside the grid settle in the first
  // expand round, background queries (no right row within r₀) later.
  private def knnGridRight(sparse: Boolean) = {
    import spark.implicits._
    val grid = (0 until 400).map(i => (i.toLong, s"POINT (${i % 20} ${i / 20})"))
    val far = if (!sparse) Nil else
      Seq((10000, 10000), (10000, 0), (0, 10000), (7000, 2000), (3000, 9000), (9500, 6000))
        .zipWithIndex.map { case ((x, y), i) => (1000L + i, s"POINT ($x $y)") }
    (grid ++ far).toDF("rid", "wkt")
      .select(col("rid"), graft.functions.stf.st_geomfromwkt(col("wkt")).as("rgeo"))
  }

  /** Brute-force kNN join: every (lid, rid) pair ranked by (centroid
    * distance, rid); same column order as `KNN.knnJoin`'s output. */
  private def bruteKnn(left: org.apache.spark.sql.DataFrame,
                       right: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    left.crossJoin(right)
      .withColumn("knn_dist",
        graft.functions.stf.st_centroid_distance(col("lgeo"), col("rgeo")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("lid")).orderBy(col("knn_dist"), col("rid"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  test("knnJoin over several expand rounds equals brute-force top-k (null geometry, empty r0, polygon)") {
    import graft.operators.KNN
    import spark.implicits._
    val k = 3
    val inGrid = (0 until 30).map(i =>
      (i.toLong, Option(s"POINT (${2.3 + i % 6 * 2.7} ${1.7 + i / 6 * 3.1})")))
    val left = (inGrid ++ Seq(
        (100L, Some("POINT (5000 5000)")),
        (101L, Some("POINT (2500 6000)")),
        (102L, Some("POLYGON ((2000 2000, 2600 2000, 2600 2400, 2000 2400, 2000 2000))")),
        (103L, None)))
      .toDF("lid", "wkt")
      .select(col("lid"), graft.functions.stf.st_geomfromwkt(col("wkt")).as("lgeo"))
    val right = knnGridRight(sparse = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("rid"), col("knn_dist")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(t => (t._1, t._2)).toSeq
    val exp = rows(bruteKnn(left, right, k))
    // r₀ as knnJoin sizes it (about 2k right rows per circle at uniform
    // density over the right bbox): the grid queries' k-th neighbour lies
    // inside it, the background ones' far outside, so several rounds run
    val r0 = math.sqrt(2.0 * k * 10000.0 * 10000.0 / (math.Pi * 406))
    val kth = exp.collect { case (l, _, Some(d)) => (l, d) }
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(kth(0L) < r0 && kth(100L) > 4 * r0 && kth(102L) > 4 * r0)
    assert(exp.length == 34 * k)
    assert(rows(KNN.knnJoin(left, right, "lgeo", "rgeo", leftId = "lid", k = k,
      tieBreak = "rid")) == exp)
  }

  test("knnJoin settled in one round accepts a left column named like a right column") {
    import graft.operators.KNN
    import spark.implicits._
    val left = Seq((0L, "a", "POINT (5.5 7.25)"), (1L, "b", "POINT (12.3 4.6)"),
        (2L, "c", "POINT (9.9 15.1)"))
      .toDF("lid", "tag", "wkt")
      .select(col("lid"), col("tag"), graft.functions.stf.st_geomfromwkt(col("wkt")).as("lgeo"))
    val right = knnGridRight(sparse = false)
      .withColumn("tag", concat(lit("r"), col("rid").cast("string")))
    // output columns lid, tag, lgeo, rid, rgeo, tag, knn_dist: read by position
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getString(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._3)).toSeq
    val got = KNN.knnJoin(left, right, "lgeo", "rgeo", leftId = "lid", k = 3, tieBreak = "rid")
    assert(got.columns.toSeq ==
      Seq("lid", "tag", "lgeo", "rid", "rgeo", "tag", "knn_dist"))
    val exp = rows(bruteKnn(left, right, 3))
    assert(exp.length == 9 && rows(got) == exp)
  }

  test("knnJoin shuffles at most k candidates per query and left partition") {
    import graft.operators.KNN
    val st = graft.functions.stf
    val k = 5
    // 100 queries inside a 2,000-point cluster whose right bbox four far
    // corner points widen, so r₀ covers the whole cluster: each query has
    // 2,000 in-radius candidates and settles in the first round. The left
    // side is round-robin partitioned, so the rank window needs a shuffle
    // (a range-partitioned spark.range left would need none).
    val left = spark.range(100).repartition(4).select(col("id").as("lid"),
      st.st_point((col("id") % 10).cast("double") * 4.0 + 1.0,
        (col("id") / 10).cast("long").cast("double") * 4.0 + 1.0).as("lgeo"))
      .localCheckpoint()
    val right = spark.range(2004).select(col("id").as("rid"),
      when(col("id") < 2000, st.st_point((col("id") % 50).cast("double"),
          (col("id") / 50).cast("long").cast("double")))
        .otherwise(st.st_point(
          when(col("id") % 2 === 0, lit(-5000.0)).otherwise(lit(5000.0)),
          when(col("id") < 2002, lit(-5000.0)).otherwise(lit(5000.0)))).as("rgeo"))
      .localCheckpoint()
    val p = left.rdd.getNumPartitions
    var n = 0L
    val written = TestJobs.shuffleRecordsWritten(spark) {
      n = KNN.knnJoin(left, right, "lgeo", "rgeo", leftId = "lid", k = k,
        tieBreak = "rid").count()
    }
    assert(n == 100L * k)
    // the 8 are the two stats aggregates' partial rows
    assert(written <= 100L * k * p + 8, s"$written shuffle records for p = $p")
  }

  test("subwordCount splits on boundaries") {
    import spark.implicits._
    val df = Seq("abc123 def, xyz").toDF("t")
    val n = df.select(graft.operators.TextAnalysis.subwordCount(col("t"))).collect()(0).getInt(0)
    assert(n == 5) // abc | 123 | def | , | xyz
    // letters are case-insensitive: an acronym is ONE subword, not a
    // punctuation split per capital; letter/digit boundaries still split
    val up = Seq("NASA A1").toDF("t")
      .select(graft.operators.TextAnalysis.subwordCount(col("t"))).collect()(0).getInt(0)
    assert(up == 3) // NASA | A | 1
  }

  test("dedupLines keeps the global first occurrence of each line, rebuilds in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\nb\nc"),
      (2L, "b\nd"),
      (3L, "c\na\ne"),
      (4L, "a\nb")).toDF("id", "t")
    val got = Dedup.dedupLines(docs, col("id"), col("t"))
      .select(col("id"), col("text_dedup")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // first occurrences: a@(1,0) b@(1,1) c@(1,2) d@(2,1) e@(3,2)
    assert(got == Map(1L -> "a\nb\nc", 2L -> "d", 3L -> "e", 4L -> ""))
    // separator generality: token granularity over spaces
    val tok = Dedup.dedupLines(Seq((1L, "x y x"), (2L, "y z")).toDF("id", "t"),
        col("id"), col("t"), sep = " ")
      .select(col("id"), col("text_dedup")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(tok == Map(1L -> "x y", 2L -> "z"))
  }

  test("rollingMinFp matches the documented polynomial formula exactly") {
    import spark.implicits._
    // reference implementation of the documented formula, on the driver
    def cp(s: String, i: Int): Long = s.codePointAt(i).toLong
    def winnow(s: String): Long =
      if (s.isEmpty) 0L
      else if (s.length < 5) s.indices.foldLeft(0L)((acc, i) => acc * 257L + cp(s, i))
      else (0 to s.length - 5).map { i =>
        (0 to 4).map(j => cp(s, i + j) * Seq(4362470401L, 16974593L, 66049L, 257L, 1L)(j)).sum
      }.min
    val texts = Seq("", "a", "ab", "abcd", "abcde", "hello world hello",
      "the quick brown fox jumps over the lazy dog")
    val got = texts.toDF("t")
      .select(col("t"), TextAnalysis.rollingMinFp(col("t")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    texts.foreach(t => assert(got(t) == winnow(t), s"mismatch for '$t'"))
    // null text -> null fingerprint
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(TextAnalysis.rollingMinFp(col("t"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("withLangId labels null text 'und', not the last otherwise() branch") {
    import spark.implicits._
    val df = Seq((1L, "the cat and the hat"), (2L, null)).toDF("id", "t")
    val got = graft.operators.TextAnalysis.withLangId(df, col("t"))
      .select("id", "lang_pred").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "en", 2L -> "und"))
  }

  test("shingles guard: short docs yield empty arrays, not descending sequences") {
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "a b c d")).toDF("id", "t")
    val sh = tiny.select(TextAnalysis.shingles(col("t"), 3)).collect()
    assert(sh(0).getSeq[String](0).isEmpty)
    assert(sh(1).getSeq[String](0) == Seq("a b c", "b c d"))
  }

  test("vocabTopK and adjacentPairCounts: hand-computed counts and tie order") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "b a")).toDF("id", "t")
    val vocab = TextAnalysis.vocabTopK(df, col("t"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(vocab == List(("a", 3L), ("b", 2L)))
    val pairs = TextAnalysis.adjacentPairCounts(df, col("t"), k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(pairs == List(("b", "a", 2L), ("a", "b", 1L)))
    // single-token docs contribute no pairs
    assert(TextAnalysis.adjacentPairCounts(Seq((3L, "solo")).toDF("id", "t"),
      col("t"), 5).count() == 0)
  }

  test("collocations: hand-computed word2vec phrase scores, minCount prune, contract guard") {
    import spark.implicits._
    // "new york" appears 3x; "the the" 2x; singles pad unigram counts
    val df = Seq(
      (1L, "new york new york the the"),
      (2L, "new york the cat")
    ).toDF("id", "t")
    // tokens: new=3 york=3 the=3 cat=1, N=10
    // pairs: (new,york)=3 (york,new)=1 (york,the)=2 (the,the)=1 (the,cat)=1
    val got = TextAnalysis.collocations(df, col("t"), k = 10,
        minCount = 2L, discount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    def score(cab: Long, c1: Long, c2: Long): Long =
      math.round((cab - 1).toDouble * 10.0 * 1000000.0 / (c1.toDouble * c2.toDouble))
    // minCount=2 keeps (new,york) and (york,the) only
    assert(got == List(
      ("new", "york", 3L, 3L, 3L, score(3, 3, 3)),   // 2·10/9 ≈ 2.22e6
      ("york", "the", 2L, 3L, 3L, score(2, 3, 3)))) // 1·10/9 ≈ 1.11e6
    intercept[IllegalArgumentException] {
      TextAnalysis.collocations(df, col("t"), k = 5, minCount = 3L, discount = 5L)
    }
  }

  test("withDuplicatedSpans: hand-computed cross-doc 5-gram duplication") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"), // spans: "a b c d e", "b c d e f"
      (2L, "a b c d e g"), // spans: "a b c d e", "b c d e g"
      (3L, "x y z")        // < 5 words: no spans
    ).toDF("id", "t")
    val got = TextAnalysis.withDuplicatedSpans(df, col("id"), col("t"), k = 5)
      .select(col("id"), col("n_spans"), col("n_dup_spans")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((0L, 0L))))
  }

  test("removeDuplicateSpans: hand-computed excision incl. overlap union and full cover") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),  // "a b c d e" shared with docs 2,4 -> idx 0-4 cut
      (2L, "a b c d e g"),
      (3L, "x y z"),        // < 5 words: untouched
      (4L, "a b c d e"),    // the span IS the doc -> fully excised
      (5L, "p p q p p q p p q p p q"),  // repeats only within itself -> untouched
      (6L, "m n o p q r s"), // two OVERLAPPING shared spans -> union idx 0-5, not 10
      (7L, "m n o p q r t")
    ).toDF("id", "t")
    val got = TextAnalysis.removeDuplicateSpans(df, col("id"), col("t"), k = 5)
      .select(col("id"), col("clean_text"), col("n_removed_tokens")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("f", 5L)), 2L -> (("g", 5L)), 3L -> (("x y z", 0L)),
      4L -> (("", 5L)), 5L -> (("p p q p p q p p q p p q", 0L)),
      6L -> (("s", 6L)), 7L -> (("t", 6L))))
  }

  test("maximalDuplicateSpans: variable-length islands from overlapping k-gram seeds") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),   // one shared 5-gram -> one span of exactly k
      (2L, "a b c d e g"),
      (3L, "x y z"),         // < 5 words: no spans
      (4L, "a b c d e"),     // fully covered doc -> one span == the doc
      (5L, "p p q p p q p p q p p q"), // self-repeats only -> no spans
      (6L, "m n o p q r s"), // two OVERLAPPING seeds merge to ONE 6-token span
      (7L, "m n o p q r t"),
      (8L, "a b c d e 8 8 m n o p q r 8") // two SEPARATED runs -> two islands
    ).toDF("id", "t")
    val got = TextAnalysis.maximalDuplicateSpans(df, col("id"), col("t"), k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, 0L, 5L, "a b c d e"),
      (2L, 0L, 5L, "a b c d e"),
      (4L, 0L, 5L, "a b c d e"),
      (6L, 0L, 6L, "m n o p q r"),
      (7L, 0L, 6L, "m n o p q r"),
      (8L, 0L, 5L, "a b c d e"),
      (8L, 7L, 6L, "m n o p q r")))
  }

  test("maximalDuplicateSpans: span union == removeDuplicateSpans' removed tokens") {
    // the documented equivalence — maximal spans report the SAME regions the
    // fixed-k excision cuts, so per doc sum(span_len) must equal
    // n_removed_tokens (and docs without spans must report 0 removed)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val spanSum = TextAnalysis.maximalDuplicateSpans(docs, col("doc_id"), col("text"), k = 5)
      .groupBy(col("doc_id")).agg(sum(col("span_len")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removedCnt = TextAnalysis.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 5)
      .select(col("doc_id"), col("n_removed_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spanSum.nonEmpty, "fixture must contain duplicated spans")
    assert(removedCnt.filter(_._2 > 0L) == spanSum)
  }

  test("dupRateByGroup counts exact duplicates per group") {
    import spark.implicits._
    val df = Seq(("s1", "x"), ("s1", "x"), ("s1", "y"), ("s2", "z")).toDF("src", "t")
    val got = Dedup.dupRateByGroup(df, col("src"), md5(col("t").cast("binary")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("s1" -> ((3L, 2L, 1L)), "s2" -> ((1L, 1L, 0L))))
  }

  test("span store round trip: dropSeenSpans drops exactly the overlapping docs") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_spanstore").toString
    val old = Seq((1L, "a b c d e f")).toDF("id", "t")
    Dedup.buildSpanStore(old, col("t"), k = 5, path)
    val batch = Seq(
      (10L, "a b c d e q q q"), // shares "a b c d e" -> dropped at minOverlap=1
      (11L, "p q r s t u"),     // no shared span -> kept
      (12L, "x y")              // no spans at all -> kept
    ).toDF("id", "t")
    val kept1 = Dedup.dropSeenSpans(batch, col("id"), col("t"), k = 5, path, minOverlap = 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(11L, 12L))
    // minOverlap above the true overlap keeps everything
    val kept2 = Dedup.dropSeenSpans(batch, col("id"), col("t"), k = 5, path, minOverlap = 2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(10L, 11L, 12L))
  }

  test("span store rebuild over an existing store stays consistent (no stale bloom)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_spanstore_rebuild").toString
    Dedup.buildSpanStore(Seq((1L, "a b c d e f")).toDF("id", "t"), col("t"), 5, path)
    val batch = Seq((10L, "a b c d e x"), (11L, "p q r s t x")).toDF("id", "t")
    // query BEFORE the rebuild so the bloom broadcast is cached...
    val kept0 = Dedup.dropSeenSpans(batch, col("id"), col("t"), 5, path, minOverlap = 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept0 == Set(11L))
    // ...then rebuild with DIFFERENT content: the next query must observe
    // the refreshed store (the cached broadcast is replaced, not reused)
    Thread.sleep(1100) // step past coarse filesystem mtime granularity
    Dedup.buildSpanStore(Seq((2L, "p q r s t u")).toDF("id", "t"), col("t"), 5, path)
    val kept = Dedup.dropSeenSpans(batch, col("id"), col("t"), 5, path, minOverlap = 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L)) // only the NEW store content drops
  }

  test("knnJoin with a null left id terminates and emits the row once") {
    import spark.implicits._
    val left = Seq((java.lang.Long.valueOf(1L), 0.0, 0.0),
      (null.asInstanceOf[java.lang.Long], 5.0, 5.0)).toDF("lid", "lx", "ly")
      .withColumn("lgeo", graft.functions.stf.st_point(col("lx"), col("ly")))
    val right = Seq((100L, 1.0, 1.0), (101L, 2.0, 2.0), (102L, 8.0, 8.0))
      .toDF("rid", "rx", "ry")
      .withColumn("rgeo", graft.functions.stf.st_point(col("rx"), col("ry")))
    val out = graft.operators.KNN.knnJoin(left, right, "lgeo", "rgeo", leftId = "lid", k = 2,
        tieBreak = "rid")
      .select(col("lid"), col("rid")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getLong(1)))
    // each left row (incl. the null-id one) gets exactly k rows, no dupes
    assert(out.length == 4 && out.toSet.size == 4)
  }

  test("dropSeenSpans == bloom-free recomputation on the fixture corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val srcn = substring(col("source"), 4, 10).cast("int")
    val old = docs.filter(srcn < 10)
    val batch = docs.filter(srcn >= 10)
    val path = java.nio.file.Files.createTempDirectory("graft_spanstore_fx").toString
    Dedup.buildSpanStore(old, col("text"), k = 5, path)
    val got = Dedup.dropSeenSpans(batch, col("doc_id"), col("text"), k = 5, path, minOverlap = 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // plain-DataFrame recomputation without the bloom prefilter / store
    val oldSpans = old.select(explode(TextAnalysis.shingles(col("text"), 5)).as("span")).distinct()
    val batchSpans = batch.select(col("doc_id"),
      explode(TextAnalysis.shingles(col("text"), 5)).as("span"))
    val dropIds = batchSpans.join(oldSpans, "span")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("m")).filter(col("m") >= 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet -- dropIds
    assert(got == want && dropIds.nonEmpty, s"dropped=${dropIds.size}")
  }

  test("scoreSeenSpans: novelty arithmetic replays; >=minOverlap seen ⇔ dropped by dropSeenSpans") {
    val srcn = substring(col("source"), 4, 10).cast("int")
    val old = docs.filter(srcn < 10)
    val batch = docs.filter(srcn >= 10)
    val path = java.nio.file.Files.createTempDirectory("graft_spanscore").toString
    Dedup.buildSpanStore(old, col("text"), k = 5, path)
    val scored = Dedup.scoreSeenSpans(batch, col("doc_id"), col("text"), k = 5, path)
      .select(col("doc_id"), col("total_spans"), col("seen_spans"), col("novelty_e6"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // every batch row scored, arithmetic exact
    assert(scored.size == batch.count())
    scored.values.foreach { case (tot, seen, nov) =>
      assert(seen <= tot)
      assert(nov == (if (tot == 0) 1000000L else 1000000L * (tot - seen) / tot))
    }
    // consistency with the drop gate: seen >= 2 ⇔ dropped at minOverlap=2
    val kept = Dedup.dropSeenSpans(batch, col("doc_id"), col("text"), k = 5, path,
        minOverlap = 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val wantKept = scored.filter { case (_, (_, seen, _)) => seen < 2 }.keySet
    assert(kept == wantKept)
    assert(scored.values.exists(_._2 > 0)) // fixture has genuine overlap
    // null text scores fully novel, not NULL (which would fall out of any
    // novelty_e6 gate on both sides of the cut)
    import spark.implicits._
    val nullBatch = Seq((1L, null: String), (2L, "the quick brown fox is here"))
      .toDF("doc_id", "text")
    val nulled = Dedup.scoreSeenSpans(nullBatch, col("doc_id"), col("text"), k = 5, path)
      .select(col("doc_id"), col("total_spans"), col("novelty_e6"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(nulled(1L) == (0L, 1000000L))
  }

  test("cross-corpus minhash pairs == brute-force cross Jaccard; fuzzy decontam drops exactly the flagged") {
    import spark.implicits._
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val got = pairSet(Dedup.minhashCrossPairs(docs, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text")))
    // brute force: exact Jaccard over the full corpus × bench cross product
    val sh = docs.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), 3).as("sh")).filter(size(col("sh")) > 0)
    val want = sh.as("a").crossJoin(
        sh.filter(col("doc_id") % 17 === 0).as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.sh"), col("b.sh"))))
      .filter(col("i") * 5 >= (size(col("a.sh")) + size(col("b.sh")) - col("i")) * 4)
      .select(col("a.doc_id"), col("b.doc_id"))
    assert(got == pairSet(want) && got.nonEmpty)
    // a paraphrased twin (one token changed) must still be flagged
    val corpus2 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a completely different document about distributed joins")).toDF("doc_id", "text")
    val bench2 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
      .toDF("doc_id", "text")
    val para = pairSet(Dedup.minhashCrossPairs(corpus2, col("doc_id"), col("text"),
      bench2, col("doc_id"), col("text"), p = 3, q = 5))
    assert(para == Set((1L, 100L)))
    // kept == corpus − flagged, exactly
    val kept = Pipeline.decontaminateFuzzy(docs, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == all -- got.map(_._1))
  }

  test("autoPlanes: the measured log2(rows/width) rule, floors and growth") {
    import graft.operators.Dedup
    // the dev/coslsh_sizing.scala measurement point: 10k store, width 16
    assert(Dedup.autoPlanes(10000) == 10)
    assert(Dedup.autoPlanes(0) == 1)        // degenerate stores floor at 1
    assert(Dedup.autoPlanes(16) == 1)
    assert(Dedup.autoPlanes(250) == 4)      // sf0.01 even half
    assert(Dedup.autoPlanes(1L << 40) == 36) // 2^40 rows / 16 = 2^36 buckets
    // monotone nondecreasing in rows — sanity over three decades
    val ps = Seq(100L, 1000L, 10000L, 100000L, 1000000L).map(Dedup.autoPlanes(_))
    assert(ps == ps.sorted)
  }

  test("autoBands: S-curve midpoint match, divisor rule, resolved sidecar") {
    import graft.operators.Dedup
    // midpoints for numHashes=128: b=4 -> 0.957, 8 -> 0.878, 16 -> 0.707,
    // 32 -> 0.420 — nearest wins, ties to fewer bands
    assert(Dedup.autoBands(128, 0.9) == 8)
    assert(Dedup.autoBands(128, 0.8) == 8)
    assert(Dedup.autoBands(128, 0.7) == 16)
    assert(Dedup.autoBands(128, 0.42) == 32)
    assert(128 % Dedup.autoBands(128, 0.55) == 0)
    // bands = 0 at build time resolves via the rule and lands in the
    // sidecar, so probes see a concrete configuration
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"alpha beta gamma delta e$i f$i g$i h$i"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhauto").toString
    Dedup.buildMinhashStore(docs, col("doc_id"), col("text"), dir,
      bands = 0, targetJaccard = 0.42)
    assert(graft.sources.Sidecar.readText(spark, dir + "/_graft_minhash_params")
      .trim.split(" ")(2).toInt == 32)
  }

  test("minhashLshPairs bands=0 resolves via autoBands at p/q and equals the explicit config") {
    import graft.operators.Dedup
    import spark.implicits._
    // 50 distinct words + 1 appended ⇒ 48 shared trigrams of 49 distinct
    // (J ≈ 0.98 — far above the 0.8 refine and the 0.878 band midpoint)
    val base = (0 until 50).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra"), // strong near-dups
      (3L, (0 until 50).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    def pairs(b: Int) = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        bands = b, p = 4, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // autoBands(128, 0.8) = 8 — the zero form must be the same computation
    assert(pairs(0) == pairs(8))
    assert(pairs(0).contains((1L, 2L)))
  }
}
