package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** ANN / cosine similarity operators (north-star; SURVEY.md §2.I). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine: identical = 1, orthogonal = 0, opposite = -1, zero-norm guard = 0") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0)),
      (Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).as[Double].collect()
    assert(math.abs(df(0) - 1.0) < 1e-12)
    assert(df(1) == 0.0 && math.abs(df(2) + 1.0) < 1e-12 && df(3) == 0.0)
  }

  test("cosineFast (codegen expression) equals the higher-order cosine exactly") {
    graft.plans.GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, -5.0, 6.0)),
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),
      (Seq(0.3, -0.7, 0.2, 9.1), Seq(-0.3, 0.7, -0.2, -9.1)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("hof"),
        Similarity.cosineFast(col("a"), col("b")).as("fast"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosineTopK ranks by similarity with id tie-break, excludes self") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.1f)),   // most similar to 0
      (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(0.0f, 1.0f)))   // least similar to 0
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val top = Similarity.cosineTopK(q, vecs, 3)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("cosineTopK with STRING ids: surrogate ranking joins the original ids back") {
    val vecs = Seq(
      ("q", Seq(1.0f, 0.0f)),
      ("close", Seq(1.0f, 0.1f)),
      ("mid", Seq(0.5f, 0.5f)),
      ("far", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === "q")
    val top = Similarity.cosineTopK(q, vecs, 3).orderBy("rank")
      .select("c_id").as[String].collect().toSeq
    assert(top == Seq("close", "mid", "far"))
  }

  test("lshTopK recall: same-bucket exact dup is always found") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 7.0 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = Seq((100L, Seq.tabulate(8)(d => math.sin(5 * 7.0 + d).toFloat)))
      .toDF("vec_id", "embedding") // exact copy of vec 5 under a new id
    val res = Similarity.lshTopK(dup, vecs.union(dup), 1, nPlanes = 4)
      .select("c_id").as[Long].collect()
    assert(res.headOption.contains(5L)) // identical vector hashes to the same bucket
  }

  test("ivfTopK: exact duplicate lands in the same inverted list and ranks first") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 7.0 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = Seq((200L, Seq.tabulate(8)(d => math.sin(9 * 7.0 + d).toFloat)))
      .toDF("vec_id", "embedding") // copy of vec 9
    val res = Similarity.ivfTopK(dup, vecs.union(dup), 1,
      nCentroids = 4, nProbe = 2, lloydIters = 2)
      .select("c_id").as[Long].collect()
    assert(res.headOption.contains(9L))
  }

  test("ivfTopK high-probe recall matches brute force on a small corpus") {
    val vecs = (0L until 40L).map { i =>
      (i, Seq.tabulate(6)(d => math.cos(i * 3.0 + d * 1.7).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 7L)
    // probing ALL centroids makes IVF exhaustive → must equal brute force
    val ivf = Similarity.ivfTopK(q, vecs, 3, nCentroids = 4, nProbe = 4)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    val brute = Similarity.cosineTopK(q, vecs, 3)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(ivf == brute)
  }

  test("hyperplaneBucket is deterministic and within [0, 2^nPlanes)") {
    graft.plans.GraftFunctions.register(spark)
    val df = Seq(Seq(0.3, -1.2, 2.2), Seq(0.3, -1.2, 2.2)).toDF("v")
      .select(Similarity.hyperplaneBucket(col("v"), 6).as("b")).as[Long].collect()
    assert(df(0) == df(1) && df(0) >= 0 && df(0) < 64)
  }

  test("graft_hyperplane (codegen) is bit-identical to the higher-order fold") {
    graft.plans.GraftFunctions.register(spark)
    val vecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("embedding").cast("array<double>").as("v"))
    for (np <- Seq(4, 6)) {
      val diff = vecs.select(
        Similarity.hyperplaneBucket(col("v"), np).as("fast"),
        Similarity.hyperplaneBucketHof(col("v"), np).as("hof"))
        .filter(col("fast") =!= col("hof")).count()
      assert(diff == 0L, s"codegen bucket diverges from HoF at nPlanes=$np")
    }
  }

  test("pqTopK: degenerate PQ (own-centroid codebook) ≡ brute-force ranking") {
    // lloydIters = 0 and ksub ≥ |corpus|: every vector seeds its own
    // per-subspace centroid, codes reconstruct exactly, and PQ-ADC must
    // reproduce the brute-force cosine ranking id-for-id.
    val vecs = (0L until 12L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 7 + d * 3) % 13).toFloat - 6.0f) / 6.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 4 === 0)
    val pq = Similarity.pqTopK(queries, emb, k = 3, m = 4, ksub = 12, lloydIters = 0)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(queries, emb, k = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == brute, s"degenerate PQ diverged: ${pq.diff(brute)} vs ${brute.diff(pq)}")
  }

  test("ivfPqTopK: probe-all + degenerate PQ ≡ brute-force ranking") {
    // nProbe = nCentroids (no list pruned) and own-centroid PQ (codes
    // reconstruct exactly): the IVFADC composition must collapse to the
    // brute-force cosine ranking id-for-id — any divergence is a bug in
    // the candidate join or the ADC restriction, not approximation.
    val vecs = (0L until 12L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 7 + d * 3) % 13).toFloat - 6.0f) / 6.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 4 === 0)
    val ivfpq = Similarity.ivfPqTopK(queries, emb, k = 3,
        nCentroids = 4, nProbe = 4, coarseIters = 1,
        m = 4, ksub = 12, pqIters = 0)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(queries, emb, k = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfpq == brute,
      s"probe-all IVFADC diverged: ${ivfpq.diff(brute)} vs ${brute.diff(ivfpq)}")
  }

  test("ivfPqRerankTopK: full-depth shortlist ≡ brute force even with a COARSE codebook") {
    // probe-all + rerank >= |corpus|: every candidate reaches the exact
    // re-rank stage, so the output must equal brute force no matter how
    // lossy the PQ shortlist scoring was (ksub=2 — maximally coarse).
    val vecs = (0L until 12L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 7 + d * 3) % 13).toFloat - 6.0f) / 6.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 4 === 0)
    val reranked = Similarity.ivfPqRerankTopK(queries, emb, k = 3, rerank = 12,
        nCentroids = 4, nProbe = 4, coarseIters = 1, m = 4, ksub = 2, pqIters = 1)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(queries, emb, k = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reranked == brute,
      s"exact re-rank diverged: ${reranked.diff(brute)} vs ${brute.diff(reranked)}")
  }

  test("ivfPqRerankTopK at deep rerank ≡ ivfTopK at equal probes (quantization-independent ceiling)") {
    // The recall ceiling of IVF-PQ+rerank is the coarse-probe ceiling:
    // with the same coarse quantizer and nProbe, a shortlist deep enough
    // to hold every probed candidate scored exactly must reproduce
    // ivfTopK's ranking EXACTLY — however lossy the PQ codebook (ksub=2)
    // that produced the shortlist order. This is the guarantee the gate's
    // deeper parameter point (ann_ivfpq_rerank_p8: recall ≡ ann_ivf_topk_p8)
    // measures at sf0.01.
    val vecs = (0L until 24L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 5 + d * 7) % 19).toFloat - 9.0f) / 9.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val ivf = Similarity.ivfTopK(queries, emb, k = 3,
        nCentroids = 3, nProbe = 2, lloydIters = 1)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reranked = Similarity.ivfPqRerankTopK(queries, emb, k = 3, rerank = 24,
        nCentroids = 3, nProbe = 2, coarseIters = 1, m = 4, ksub = 2, pqIters = 1)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reranked == ivf,
      s"deep rerank must meet the IVF ceiling: ${reranked.diff(ivf)} vs ${ivf.diff(reranked)}")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("filtered search: probe-all filtered IVF-PQ ≡ exact filtered brute force; no predicate leaks") {
    val vecs = (0L until 18L).map { i =>
      (i, (i % 3).toInt, Seq.tabulate(8)(d => (((i * 5 + d * 7) % 17).toFloat - 8.0f) / 8.0f))
    }
    val emb = vecs.toDF("vec_id", "label", "embedding")
    val queries = emb.filter(col("vec_id") % 6 === 0)
    val meta = emb.select(col("vec_id").as("c_id"), col("label"))
    // probe-all + ksub >= |corpus| degenerates the quantizers, so the
    // filtered ADC ranking must equal the filtered exact ranking
    val index = Similarity.buildIvfPqIndex(emb, nCentroids = 3, coarseIters = 1,
      m = 4, ksub = 18, pqIters = 0)
    val filtered = Similarity.ivfPqTopKFilteredIndexed(queries, index, meta,
        col("label") === 1, k = 3, nProbe = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.cosineTopKFiltered(queries, emb, k = 3, col("label") === 1)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(filtered == exact,
      s"filtered ADC diverged from filtered exact: ${filtered.diff(exact)} vs ${exact.diff(filtered)}")
    // every returned candidate satisfies the predicate
    assert(filtered.forall { case (_, _, c) => c % 3 == 1 },
      "filtered search returned a candidate violating the predicate")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("saveIvfPqIndex → loadIvfPqIndex serves identically to the built index") {
    val vecs = (0L until 20L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 3 + d * 5) % 11).toFloat - 5.0f) / 5.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 5 === 0)
    val built = Similarity.buildIvfPqIndex(emb, nCentroids = 4, coarseIters = 1,
      m = 4, ksub = 4, pqIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_rt_").toString
    built.save(dir)
    val loaded = Similarity.IvfPqIndex.load(spark, dir)
    def serve(ix: Similarity.IvfPqIndex) =
      Similarity.ivfPqTopKIndexed(queries, ix, k = 3, nProbe = 2)
        .select("q_id", "rank", "c_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(serve(loaded) == serve(built),
      "a saved-then-loaded index must serve the exact built-index ranking")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("ivfPqIndexAppend codes appended vectors exactly like the build pipeline") {
    // old corpus trains the quantizers; the appended batch duplicates old
    // vectors under new ids — frozen quantizers must assign and code each
    // twin IDENTICALLY to its original (same centroid, same PQ codes),
    // and serving over the grown index must surface the exact twin top-1.
    val base = (0L until 16L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 7 + d * 3) % 13).toFloat - 6.0f) / 6.0f))
    }
    val emb = base.toDF("vec_id", "embedding")
    val twins = base.take(6).map { case (i, v) => (i + 100L, v) }
      .toDF("vec_id", "embedding")
    val built = Similarity.buildIvfPqIndex(emb, nCentroids = 4, coarseIters = 1,
      m = 4, ksub = 4, pqIters = 1)
    val grown = Similarity.ivfPqIndexAppend(built, twins)
    assert(grown.corpus.count() == 22 && grown.assigned.count() == 22,
      "append must union corpus and inverted lists")
    // twin codes ≡ original codes (join on (sub, vec offset))
    val codes = grown.codes.collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    for (j <- 0 until 6; sub <- 0 until 4)
      assert(codes((j + 100L, sub)) == codes((j.toLong, sub)),
        s"twin $j sub $sub coded differently from its original")
    val asg = grown.assigned.collect()
      .map(r => (r.getLong(1), r.getInt(0))).toMap
    for (j <- 0 until 6)
      assert(asg(j + 100L) == asg(j.toLong),
        s"twin $j assigned to a different inverted list than its original")
    // serving: each twin's top-1 is ADC-INDISTINGUISHABLE from its
    // original — same coarse cell, same codes (PQ cannot tell exact
    // duplicates from same-cell-same-code candidates, and ties break on
    // id, so the top-1 need not be the original itself)
    val served = Similarity.ivfPqTopKIndexed(twins, grown, k = 1, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    def sig(id: Long) = (asg(id), (0 until 4).map(sub => codes((id, sub))))
    for (j <- 0 until 6)
      assert(sig(served(j + 100L)) == sig(j.toLong),
        s"twin ${j + 100}'s top-1 ${served(j + 100L)} is not ADC-equal to its duplicate $j")
    // generation rollover at a CUT: the appended generation reads the
    // built one's caches, so release waits for a standalone successor —
    // compaction cuts one, and releasing the pre-cut generation (its
    // chain: the built data caches plus the deltas) must leave it
    // serving identically (shared quantizer frames untouched)
    val cut = grown.compact()
    assert(cut.chain.isEmpty && grown.chain.nonEmpty)
    grown.release(blocking = true)
    assert(grown.chain.frames.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    val reServed = Similarity.ivfPqTopKIndexed(twins, cut, k = 1, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(reServed == served,
      "the cut successor must serve identically after the chain's release")
    // appending a CLASHING id must fail fast, not corrupt ADC sums
    val clash = Seq((3L, base(3)._2)).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(cut, clash)
    }
    // a vec_id repeated WITHIN the batch must fail the same way — it
    // passes the corpus-clash join yet would union two code sets under
    // one key, the identical doubled-ADC corruption
    val intra = Seq((300L, base(0)._2), (300L, base(1)._2))
      .toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(cut, intra)
    }
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("ivfPqIndexRemove: remove∘append-back restores serving; absent ids no-op; compaction preserves serving at bounded partitions") {
    val base = (0L until 16L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 7 + d * 3) % 13).toFloat - 6.0f) / 6.0f))
    }
    val emb = base.toDF("vec_id", "embedding")
    val queries = base.take(4).map { case (i, v) => (i + 500L, v) }
      .toDF("vec_id", "embedding")
    val built = Similarity.buildIvfPqIndex(emb, nCentroids = 4, coarseIters = 1,
      m = 4, ksub = 4, pqIters = 1)
    val servedFull = Similarity.ivfPqTopKIndexed(queries, built, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // remove 6 ids: keyed frames shrink by exactly those; quantizers shared
    val rmIds = (0L until 6L).toDF("vec_id")
    val shrunk = built.remove(rmIds)
    assert(shrunk.corpus.count() == 10 && shrunk.assigned.count() == 10 &&
      shrunk.codes.count() == 10 * 4,
      "remove must shrink corpus, inverted lists and codes by the removed ids")
    val servedShrunk = Similarity.ivfPqTopKIndexed(queries, shrunk, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(!servedShrunk.exists(_._3 < 6L),
      "no removed id may appear in the served ranking")
    // idempotent deletes: absent ids are ignored (tombstone replay)
    val again = shrunk.remove(Seq(0L, 999L).toDF("vec_id"))
    assert(again.corpus.count() == 10 && again.codes.count() == 10 * 4,
      "removing absent ids must be a no-op")
    // UPDATE path: re-appending the removed vectors through the frozen
    // quantizers restores build-time assignment and coding exactly, so
    // serving returns to the full-build ranking row for row
    val updated = Similarity.ivfPqIndexAppend(shrunk,
      base.take(6).toDF("vec_id", "embedding"))
    val servedUpdated = Similarity.ivfPqTopKIndexed(queries, updated, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedUpdated == servedFull,
      "remove∘append-back must restore the full-build serving exactly")
    // compaction: serving identical, partition count at the target (k
    // appends concatenate k generations of partitions otherwise)
    val compacted = updated.compact(partitions = Some(3))
    assert(compacted.corpus.rdd.getNumPartitions == 3 &&
      compacted.codes.rdd.getNumPartitions == 3,
      "compaction must re-materialize keyed frames at the target partition count")
    val servedCompacted = Similarity.ivfPqTopKIndexed(queries, compacted, k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedCompacted == servedUpdated,
      "compaction must not change the served ranking")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("compactIvfPqIndexIfFragmented: width and emptiness arms fire, within-bound index passes through untouched") {
    val base = (0L until 12L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 5 + d) % 11).toFloat - 5.0f) / 5.0f))
    }
    val emb = base.toDF("vec_id", "embedding")
    val built = Similarity.buildIvfPqIndex(emb, nCentroids = 4,
      coarseIters = 1, m = 4, ksub = 4, pqIters = 1)
    val w0 = Seq(built.corpus, built.assigned, built.codes)
      .map(_.rdd.getNumPartitions).max
    // pass-through: width within bound, emptiness arm off → same instance
    val (same, fired0) = built.compactIfFragmented(maxPartitions = Some(w0))
    assert(!fired0 && (same eq built),
      "a within-bound index must pass through untouched")
    // WIDTH arm: appends concatenate partitions past the bound
    val frag = Seq(12L, 14L, 16L).foldLeft(built) { (ix, i) =>
      Similarity.ivfPqIndexAppend(ix,
        Seq((i, base.head._2)).toDF("vec_id", "embedding"))
    }
    val wF = Seq(frag.corpus, frag.assigned, frag.codes)
      .map(_.rdd.getNumPartitions).max
    assert(wF > w0, "appends must have widened the keyed frames")
    val (compacted, fired1) = frag.compactIfFragmented(maxPartitions = Some(w0))
    val target = spark.sessionState.conf.numShufflePartitions
    assert(fired1 &&
      compacted.corpus.rdd.getNumPartitions == target &&
      compacted.corpus.count() == 15,
      "width arm must fire and re-materialize at natural width")
    // EMPTINESS arm: removes shed rows at constant width — mostly-empty
    // partitions until the opt-in arm says merge
    val shrunk = compacted.remove(
      (0L until 14L).toDF("vec_id"))  // leaves {14, 16}: 2 rows wide 4
    assert(shrunk.corpus.rdd.getNumPartitions == target)
    val (_, fired2) = shrunk.compactIfFragmented(
      maxPartitions = Some(100), minRowsPerPartition = 1L)
    assert(fired2, "emptiness arm must fire at 2 rows over 4 partitions")
    val (_, fired3) = shrunk.compactIfFragmented(maxPartitions = Some(100))
    assert(!fired3, "emptiness arm is opt-in — disabled it must not fire")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("autoGeometry: √N centroids clamped to [16, 65536], √nc probes") {
    assert(Similarity.autoGeometry(100L) == ((16, 4)))          // floor clamp
    assert(Similarity.autoGeometry(10000L) == ((100, 10)))
    assert(Similarity.autoGeometry(1000000L) == ((1000, 32)))
    assert(Similarity.autoGeometry(10000000000L) == ((65536, 256))) // cap
  }

  test("ivfPqTopKAuto ≡ explicit build at the derived geometry (full training under the sample cap)") {
    val vecs = (0L until 400L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 13 + d * 7) % 19).toFloat - 9.0f) / 9.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val auto = Similarity.ivfPqTopKAuto(queries, emb, 3, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val (nc, np) = Similarity.autoGeometry(400L) // (20, 4); 128·20 ≥ 400 → full training
    val ix = Similarity.buildIvfPqIndex(emb, nc, coarseIters = 1, m = 4,
      ksub = 8, pqIters = 1)
    val explicit = Similarity.ivfPqTopKIndexed(queries, ix, 3, np)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(auto == explicit,
      "auto-geometry serving must equal the explicit build at (√N, √nc)")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("sampled-training build: quantizers train on the hash sample, every vector still assigned and coded, deterministic") {
    val vecs = (0L until 60L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 11 + d * 5) % 17).toFloat - 8.0f) / 8.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 12 === 0)
    val sample = Some(pmod(hash(col("c_id")), lit(1000000)) < lit(500000)) // ~half
    def build() = Similarity.buildIvfPqIndex(emb, 4, 1, 4, 4, 1, sample)
    val a = build()
    // the SAMPLE bounds training cost; assignment/coding must still cover
    // every vector exactly once
    assert(a.corpus.count() == 60 && a.assigned.count() == 60,
      "full corpus must be assigned regardless of the training sample")
    assert(a.codes.count() == 60 * 4, "every vector coded in all m subspaces")
    val servedA = Similarity.ivfPqTopKIndexed(queries, a, 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
    val servedB = Similarity.ivfPqTopKIndexed(queries, build(), 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(servedA == servedB, "hash-sampled training must be deterministic")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("pqTopK: output is partitioning-invariant (trained codebook and all)") {
    val vecs = (0L until 30L).map { i =>
      (i, Seq.tabulate(8)(d => (((i * 11 + d * 5) % 17).toFloat - 8.0f) / 8.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    def run(parts: Int) =
      Similarity.pqTopK(queries, emb.repartition(parts), k = 4,
          m = 4, ksub = 4, lloydIters = 2)
        .select("q_id", "rank", "c_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(run(1) == run(7), "PQ ranking must not depend on input partitioning")
    graft.GraftCaches.unpersistAll()
  }

  test("labelCentroidCosine: parallel groups → 1, orthogonal → 0, scale-invariant") {
    val emb = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(1.0f, 0.0f)), // centroid (1, 0)
      (1, Seq(2.0f, 0.0f)),                       // centroid (2, 0) ∥ label 0
      (2, Seq(0.0f, 3.0f)))                       // centroid (0, 3) ⊥ both
      .toDF("label", "embedding")
    val r = Similarity.labelCentroidCosine(emb, col("label"), col("embedding"))
      .orderBy("label_i", "label_j").collect()
      .map(x => ((x.getAs[Int]("label_i"), x.getAs[Int]("label_j")),
        x.getAs[Double]("centroid_cos"))).toMap
    assert(r((0, 0)) == 1.0 && r((1, 1)) == 1.0 && r((2, 2)) == 1.0)
    assert(r((0, 1)) == 1.0, "parallel centroids of different scale must cos to 1")
    assert(r((0, 2)) == 0.0 && r((1, 2)) == 0.0)
  }

  test("hardNegatives: nearest different-label vector wins; same-label never appears") {
    // query 0 (label A) is nearly parallel to 1 (label A, cos≈1) and 2
    // (label B, cos≈0.995); 3 (label B) is orthogonal. The same-label
    // near-twin must be EXCLUDED; the cross-label near-twin must rank 1.
    val emb = Seq(
      (0L, "A", Seq(1.0f, 0.0f)),
      (1L, "A", Seq(0.999f, 0.01f)),
      (2L, "B", Seq(0.995f, 0.1f)),
      (3L, "B", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val r = Similarity.hardNegatives(emb.filter(col("vec_id") === 0L), emb, 2)
      .orderBy("rank").collect()
      .map(x => (x.getAs[Long]("rank"), x.getAs[Long]("c_id"),
        x.getAs[String]("c_label")))
    assert(r.toSeq == Seq((1L, 2L, "B"), (2L, 3L, "B")), r.toSeq)
  }

  // ------------------------------------------------------ rebuild policy
  /** Deterministic synthetic corpus: ids 0..n-1, 8-dim hash-derived
    * unit-ish vectors (same generator family as the other trained-path
    * tests — reproducible, no RNG state). */
  private def synthCorpus(n: Int) =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => (pmod(hash(col("id"), d), lit(1000)).cast("float") / 500.0f) - 1.0f)
        .as("embedding"))

  test("rebuild policy: healthy index passes through unchanged with its own auto nProbe") {
    val corpus = synthCorpus(300)
    // 300 vectors: autoGeometry wants round(√300)=17 centroids; a 16-list
    // index is within the 1.3× drift band and a hash-derived corpus keeps
    // lists balanced → neither trigger fires
    val index = Similarity.buildIvfPqIndex(corpus, nCentroids = 16,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val (out, np, rebuilt) = Similarity.ivfPqRebuildIfStale(index, m = 4, ksub = 8)
    assert(!rebuilt, "policy fired on a healthy index")
    assert(out eq index, "pass-through must return the SAME index object")
    assert(np == 4, s"auto nProbe of a 16-list index is max(4, √16) = 4, got $np")
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("rebuild policy: geometry drift fires and the rebuilt index serves ≡ a fresh auto build") {
    // base trained on 240 vectors at a DELIBERATELY tiny geometry (4
    // lists), then 60 more append through the frozen quantizers: the 300-
    // vector corpus wants 17 ≥ 1.3×4 centroids → the policy must rebuild
    val corpus = synthCorpus(300)
    val base = Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") < 240),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val grown = Similarity.ivfPqIndexAppend(base, corpus.filter(col("vec_id") >= 240))
    val (out, np, rebuilt) = Similarity.ivfPqRebuildIfStale(grown, m = 4, ksub = 8)
    assert(rebuilt, "geometry drift (4 → 17 lists) must fire the policy")
    val queries = corpus.filter(col("vec_id") % 29 === 0)
    val served = Similarity.ivfPqTopKIndexed(queries, out, 3, np)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // fresh auto build over the same 300 rows (single-plan corpus): the
    // policy's rebuild path must reproduce it exactly — same geometry,
    // same sampled-training predicate, same integer ADC serving
    val (freshIx, freshNp) = Similarity.ivfPqAutoIndexFor(corpus, m = 4, ksub = 8)
    assert(np == freshNp)
    val fresh = Similarity.ivfPqTopKIndexed(queries, freshIx, 3, freshNp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == fresh,
      s"rebuilt serving diverged from fresh auto build: ${served -- fresh} / ${fresh -- served}")
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("rebuild policy: rolled list-size counters decide imbalance exactly as the aggregation fallback") {
    // the per-batch O(standing) trim: build/append roll per-list counts to
    // a driver map and the policy's imbalance check becomes pure
    // arithmetic — it must FIRE and PASS at exactly the same permille
    // bounds as the frame aggregation (listSizes = None), or the two code
    // paths silently diverge on the fire-day decision
    val corpus = synthCorpus(300)
    val index = Similarity.buildIvfPqIndex(corpus, nCentroids = 16,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    assert(index.listSizes.isDefined &&
      index.listSizes.get.values.sum == 300L)
    val noCounter = index.copy(listSizes = None)
    // bracket the true imbalance: at a permille bound just above/below,
    // both paths must agree on fired
    for (bound <- Seq(1L, 1000L, 1100L, 1500L, 4000L)) {
      val (_, _, firedMap) = Similarity.ivfPqRebuildIfStale(index,
        m = 4, ksub = 8, imbalanceMaxPermille = bound)
      val (_, _, firedAgg) = Similarity.ivfPqRebuildIfStale(noCounter,
        m = 4, ksub = 8, imbalanceMaxPermille = bound)
      assert(firedMap == firedAgg,
        s"imbalance decision diverged at bound=$bound: map=$firedMap agg=$firedAgg")
    }
    // append rolls the counter: totals add, per-list counts stay exact
    val grown = Similarity.ivfPqIndexAppend(
      Similarity.buildIvfPqIndex(corpus.filter(col("vec_id") < 240),
        nCentroids = 16, coarseIters = 1, m = 4, ksub = 8, pqIters = 1),
      corpus.filter(col("vec_id") >= 240))
    val rolled = grown.listSizes.get
    val truth = grown.assigned.groupBy(col("cent_id")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rolled == truth, "rolled per-list counts != re-aggregated truth")
    assert(grown.rows.contains(300L))
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("autoRecallOperatingPoint: nc^0.75 probes (≥4), 64-deep rerank floor") {
    assert(Similarity.autoRecallOperatingPoint(16, 5) == ((8, 64)))
    assert(Similarity.autoRecallOperatingPoint(1024, 5) == ((181, 64)))
    assert(Similarity.autoRecallOperatingPoint(16, 100) == ((8, 100)))
    // the deeper probe dominates the plain auto point at every geometry
    for (nc <- Seq(16, 64, 256, 4096, 65536)) {
      val plain = math.max(4, math.round(math.sqrt(nc.toDouble)).toInt)
      assert(Similarity.autoRecallOperatingPoint(nc, 5)._1 >= plain)
    }
  }

  test("warm rebuild: grow splits hottest lists keeping untouched codes bit-for-bit; shrink merges coldest; >2x jump falls back cold") {
    // injective vector map (dim-0 value = i·31 mod 101, gcd(31,101)=1 —
    // no duplicate vectors, so geometric splits are well-defined)
    def mkV(i: Long) = Seq.tabulate(8)(d =>
      (((i * 31 + d * 7) % 101).toDouble - 50.0) / 50.0)
    val emb = (0L until 100L).map(i => (i, mkV(i))).toDF("vec_id", "embedding")
    def codeSet(ix: Similarity.IvfPqIndex) = ix.codes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    def assignMap(ix: Similarity.IvfPqIndex) = ix.assigned.collect()
      .map(r => (r.getLong(r.fieldIndex("c_id")),
        r.getInt(r.fieldIndex("cent_id")))).toMap

    // NO-FIRE: a right-sized 16-centroid index passes through untouched
    val right = Similarity.buildIvfPqIndex(emb, nCentroids = 16,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val (same, np0, f0, w0) = Similarity.ivfPqRebuildWarmStart(right,
      m = 4, ksub = 8)
    assert(!f0 && !w0 && (same eq right) && np0 == 4)

    // GROW: 12 centroids vs autoGeometry(100) = 16 → fires warm, k = 4
    // hottest lists split; 8 lists untouched
    val base = Similarity.buildIvfPqIndex(emb, nCentroids = 12,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val beforeAssign = assignMap(base)
    val beforeCodes = codeSet(base)
    val hot4 = base.assigned.groupBy(col("cent_id")).count()
      .orderBy(col("count").desc, col("cent_id").asc)
      .limit(4).collect().map(_.getInt(0)).toSet
    val (grown, np1, f1, w1) = Similarity.ivfPqRebuildWarmStart(base,
      m = 4, ksub = 8)
    assert(f1 && w1 && np1 == 4, "geometry drift must fire the warm path")
    assert(grown.centroids.count() == 16 &&
      grown.m == base.m && (grown.codebook eq base.codebook) &&
      (grown.corpus eq base.corpus),
      "warm grow reuses corpus and codebook, reaches the derived nc")
    // partition invariants: every vector assigned exactly once, coded m×
    assert(grown.assigned.count() == 100 &&
      grown.assigned.select(col("c_id")).distinct().count() == 100)
    assert(grown.codes.count() == 100L * 4 &&
      grown.crossTerms.count() == 16L * base.codebook.count())
    // untouched lists keep members AND codes bit-for-bit; only split-list
    // members may move, and they land on their old id or a fresh one
    val afterAssign = assignMap(grown)
    val afterCodes = codeSet(grown)
    val untouchedIds = beforeAssign.filter(kv => !hot4(kv._2)).keySet
    assert(untouchedIds.forall(id => afterAssign(id) == beforeAssign(id)),
      "untouched-list members must not move")
    assert(untouchedIds.flatMap(id => beforeCodes.filter(_._1 == id)) ==
      untouchedIds.flatMap(id => afterCodes.filter(_._1 == id)),
      "untouched-list codes must be bit-identical")
    val movedIds = beforeAssign.filter(kv => hot4(kv._2)).keySet
    assert(movedIds.forall(id =>
        afterAssign(id) == beforeAssign(id) || afterAssign(id) >= 12),
      "split members stay on their list id or take a fresh one")
    // serving shape: full k rows per query against the warm index
    val q = emb.filter(col("vec_id") % 25 === 0)
    val servedRows = Similarity.ivfPqTopKIndexed(q, grown, 3, nProbe = 4)
      .collect()
    assert(servedRows.length == q.count() * 3,
      "warm index must serve a full top-k per query")

    // SHRINK: 33 centroids vs the derived 16 → coldest 17 lists merge
    val wide = Similarity.buildIvfPqIndex(emb, nCentroids = 33,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val (shrunk, np2, f2, w2) = Similarity.ivfPqRebuildWarmStart(wide,
      m = 4, ksub = 8)
    assert(f2 && w2 && np2 == 4 && shrunk.centroids.count() == 16)
    assert(shrunk.assigned.count() == 100 &&
      shrunk.assigned.select(col("c_id")).distinct().count() == 100 &&
      shrunk.codes.count() == 400 &&
      // crossTerms = nc × |codebook| (Lloyd may retire unused codewords,
      // so the codebook can hold fewer than m·ksub rows)
      shrunk.crossTerms.count() == 16L * wide.codebook.count())
    // surviving centroid ids are a subset of the wide index's
    val wideIds = wide.centroids.collect().map(_.getInt(0)).toSet
    assert(shrunk.centroids.collect().map(_.getInt(0)).toSet.subsetOf(wideIds))

    // >2× jump: 6 centroids vs 16 wanted → cold fallback, still fired
    val tiny = Similarity.buildIvfPqIndex(emb, nCentroids = 6,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val (cold, _, f3, w3) = Similarity.ivfPqRebuildWarmStart(tiny,
      m = 4, ksub = 8)
    assert(f3 && !w3 && cold.centroids.count() == 16,
      "a >2× geometry jump must fall back to the cold rebuild")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("warm rebuild: shrink-then-grow lifecycle mints fresh ids past the max surviving cent_id (no collisions)") {
    // the standing-index lifecycle the docstring advertises: a SHRINK
    // leaves survivor ids NON-CONTIGUOUS (coldest lists drop by count,
    // not by id), so a later GROW that minted fresh ids at the centroid
    // COUNT would collide with survivors — duplicate cent_id rows
    // silently corrupting lists, cross-terms, and ADC scores
    def mkV(i: Long) = Seq.tabulate(8)(d =>
      (((i * 31 + d * 7) % 101).toDouble - 50.0) / 50.0)
    val emb = (0L until 100L).map(i => (i, mkV(i))).toDF("vec_id", "embedding")
    val wide = Similarity.buildIvfPqIndex(emb, nCentroids = 33,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val (shrunk, _, fS, wS) = Similarity.ivfPqRebuildWarmStart(wide,
      m = 4, ksub = 8)
    assert(fS && wS && shrunk.centroids.count() == 16)
    val survivorIds = shrunk.centroids.collect().map(_.getInt(0)).toSet
    assert(survivorIds.max >= 16,
      "fixture must leave a survivor id at/above the centroid count, " +
        "or the collision this test guards against is unreachable")
    // grow the corpus 5×: autoGeometry(500) = 22 > 1.3·16 fires a warm
    // GROW of 6 splits over the shrink-survivor index
    val more = (100L until 500L).map(i => (i, mkV(i)))
      .toDF("vec_id", "embedding")
    val grown0 = Similarity.ivfPqIndexAppend(shrunk, more)
    val (grown, np, fG, wG) = Similarity.ivfPqRebuildWarmStart(grown0,
      m = 4, ksub = 8)
    assert(fG && wG && np == 5, "append drift must fire the warm grow")
    // the collision regression: every cent_id unique, fresh ids strictly
    // past the largest survivor id, and the partition stays exact
    val centIds = grown.centroids.collect().map(_.getInt(0)).toSeq
    assert(centIds.size == 22 && centIds.distinct.size == 22,
      s"duplicate cent_id rows after shrink-then-grow: ${centIds.sorted}")
    assert((centIds.toSet -- survivorIds).forall(_ > survivorIds.max),
      "fresh ids must mint past the max surviving id")
    assert(grown.assigned.count() == 500 &&
      grown.assigned.select(col("c_id")).distinct().count() == 500)
    assert(grown.codes.count() == 500L * 4 &&
      grown.crossTerms.count() == 22L * shrunk.codebook.count())
    // assigned lists reference existing centroids only
    assert(grown.assigned.select(col("cent_id")).distinct()
      .collect().map(_.getInt(0)).toSet.subsetOf(centIds.toSet))
    // serving shape holds over the twice-warm index
    val q = emb.filter(col("vec_id") % 25 === 0)
    val rows = Similarity.ivfPqTopKIndexed(q, grown, 3, nProbe = np).collect()
    assert(rows.length == q.count() * 3)
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("cosineRange: complete and exclusive at the threshold, self excluded") {
    // hand-built 2-d unit vectors at known angles to the query (1,0):
    // cos = 0.9, 0.5, 0.31, 0.29, -0.2 — the 0.31/0.29 pair brackets the
    // 0.3 threshold so completeness AND exclusivity are both exercised
    def at(c: Double) = Seq(c.toFloat, math.sqrt(1 - c * c).toFloat)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, at(0.9)), (2L, at(0.5)),
      (3L, at(0.31)), (4L, at(0.29)), (5L, at(-0.2)))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineRange(vecs.filter(col("vec_id") === 0L),
        vecs, minCos = 0.3)
      .orderBy(col("c_id")).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L),
      "exactly the pairs at cos >= 0.3, no self-pair")
    assert(got.forall(_.getDouble(2) >= 0.3 - 5e-7))
  }

  test("ivfRangeIndexed: lossless at full probe, subset with identical cos at partial") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.cosineRange(queries, emb, minCos = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "threshold too tight — the test would be vacuous")
    val index = Similarity.ivfIndexFor(emb, nCentroids = 8, lloydIters = 1)
    // full probe: the inverted lists partition the corpus, so probing all
    // of them scores every pair exactly once — bit-identical to brute force
    val full = Similarity.ivfRangeIndexed(queries, index, minCos = 0.25,
        nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == exact, "full-probe IVF range must equal brute force")
    // partial probe: a subset, and every surviving pair carries the SAME
    // cos the exact tier computed (same cast, same scorer — no drift)
    val part = Similarity.ivfRangeIndexed(queries, index, minCos = 0.25,
        nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(part.keySet.subsetOf(exact.keySet))
    assert(part.forall { case (k, v) => exact(k) == v })
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }

  test("ivfPqRangeIndexed: never admits false pairs; slack>=2 at full probe = brute force") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val exact = Similarity.cosineRange(queries, emb, minCos = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    val index = Similarity.buildIvfPqIndex(emb, nCentroids = 8,
      coarseIters = 1, m = 8, ksub = 16, pqIters = 1)
    // operating point: quantization may LOSE candidates, never admit a
    // below-threshold pair or drift a surviving score (exact verify)
    val op = Similarity.ivfPqRangeIndexed(queries, index, minCos = 0.25,
        nProbe = 2, slack = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(op.keySet.subsetOf(exact.keySet))
    assert(op.forall { case (k, v) => exact(k) == v })
    // slack >= 2 admits every probed pair as a candidate (ADC cosines
    // live in [-1-eps, 1+eps]), so at full probe only the exact verify
    // decides — closed-form equality with brute force
    val full = Similarity.ivfPqRangeIndexed(queries, index, minCos = 0.25,
        nProbe = 8, slack = 2.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == exact,
      "full probe + all-admitting slack must reduce to the exact range")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts(blocking = true)
  }
}
