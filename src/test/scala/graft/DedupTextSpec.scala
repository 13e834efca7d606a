package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, TextAnalysis}

/** North-star dedup + text-analysis operators (SURVEY.md §2.I, BASELINE.json
  * north_star). */
class DedupTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact dedup keeps the smallest id per normalized fingerprint") {
    val docs = Seq(
      (1L, "Hello,   World!"), (2L, "hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 is a near-exact dup of 1 after normalization
  }

  test("shingles: k-word shingles, short docs fall back to whole text") {
    val sh = Seq((1L, "a b c d")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("a b c", "b c d"))
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(short == Seq("a b"))
    // distinct by construction — the incremental path's array Jaccard
    // (size / array_intersect) is exact only on distinct arrays
    val rep = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(rep.sorted == Seq("a b c", "b c a", "c a b"))
  }

  test("MinHash-LSH finds exact and near duplicates, skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again until dawn"
    val docs = Seq(
      (1L, base),
      (2L, base), // exact dup
      (3L, base + " tonight"), // near dup
      (4L, "completely unrelated content about spark query planning internals"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
      numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("MinHash-LSH production banding (16x2) catches a borderline pair just above J=0.5") {
    // A = a1..a20 (18 shingles), B = a1..a15 + five new tokens (18 shingles,
    // 13 shared) → exact Jaccard = 13/23 ≈ 0.565: above the 0.5 threshold
    // but below 0.59, the S-curve midpoint of the old bands=8 banding that
    // silently dropped pairs like this. bands=16 (midpoint 0.25) must keep
    // it as a candidate, and the verify must report the exact Jaccard.
    val aToks = (1 to 20).map(i => s"tok$i")
    val bToks = aToks.take(15) ++ (1 to 5).map(i => s"new$i")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
      numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
      .collect()
    assert(pairs.length == 1, "borderline pair above threshold was dropped")
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 13.0 / 23.0) < 1e-6)
  }

  test("incremental dedup ≡ full-run pairs restricted to the batch; append + release lifecycle") {
    // docs 0..19: pairs of near-dups (2k, 2k+1 share most text), split
    // 80/20 like the gate (id % 5 == 0 is the batch); plus three
    // standing/batch edge pairs: empty texts (each shingles to [""]),
    // fewer than 3 tokens (single-shingle arrays), and an exact duplicate
    // of standing doc 3 in the batch
    val nearDups = (0L until 20L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo${i / 2}"
      (i, if (i % 2 == 0) base else base + " lima")
    }
    val docs = (nearDups ++ Seq(
      (21L, ""), (25L, ""),
      (22L, "Zulu, yankee!"), (30L, "zulu yankee"),
      (35L, nearDups(3)._2))).toDF("doc_id", "text")
    val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty, "fixture construction must yield near-dup pairs")
    val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(expected.nonEmpty && expected != full,
      "batch restriction must be a strict non-empty subset")
    assert(Set((21L, 25L, 1.0), (22L, 30L, 1.0), (3L, 35L, 1.0))
      .subsetOf(expected), "each edge pair must reach the restricted set")
    graft.GraftCaches.unpersistAll()
    val index = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val incremental = Dedup.incrementalMinHashPairs(index,
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental == expected,
      s"incremental != restricted full run: ${incremental.diff(expected)} vs ${expected.diff(incremental)}")
    // append the batch: the grown index now answers a SECOND batch's
    // incremental query with the first batch as part of the corpus
    val grown = Dedup.dedupIndexAppend(index,
      docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"))
    assert(grown.staged.count() == 25 && grown.bands.count() == 25 * 16)
    // a delta generation reads its predecessor's caches: the base frames
    // ride its chain and stay resident (nothing releases after an append)
    assert(grown.chain.frames.take(2) == Seq(index.staged, index.bands) &&
      grown.chain.frames.forall(
        _.storageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "the appended generation's chain must hold its base and delta caches")
    val batch2 = Seq((100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo0"))
      .toDF("doc_id", "text")
    val inc2 = Dedup.incrementalMinHashPairs(grown, batch2,
        col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc2.contains((0L, 100L)) && inc2.contains((1L, 100L)),
      "post-append incremental must match against BOTH original corpus and first batch")
    // id hygiene: re-ingesting an indexed id, or a batch-internal dup, fails fast
    assertThrows[IllegalArgumentException] {
      Dedup.incrementalMinHashPairs(grown,
        Seq((0L, "whatever text here")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    assertThrows[IllegalArgumentException] {
      Dedup.incrementalMinHashPairs(grown,
        Seq((200L, "text one two three"), (200L, "text four five six"))
          .toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("dedupIndexRemove ≡ fresh build on corpus∖removed; absent ids no-op; compaction preserves pairs at bounded partitions") {
    val docs = (0L until 20L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo${i / 2}"
      (i, if (i % 2 == 0) base else base + " lima")
    }.toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    // remove the odd ids 1..7 — their twins (0,2,4,6) lose their partner
    val rmIds = Seq(1L, 3L, 5L, 7L).toDF("doc_id")
    val shrunk = Dedup.dedupIndexRemove(index, rmIds)
    assert(shrunk.staged.count() == 16 && shrunk.bands.count() == 16 * 16,
      "remove must shrink both member frames by exactly the removed docs")
    // per-doc member rows: the shrunk catalog ≡ a fresh build over the
    // filtered corpus, frame for frame
    val fresh = Dedup.buildDedupIndex(
      docs.filter(!col("doc_id").isin(1L, 3L, 5L, 7L)),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    assert(shrunk.bands.collect().map(_.toSeq).toSet ==
      fresh.bands.collect().map(_.toSeq).toSet,
      "shrunk band catalog must equal the fresh build on corpus∖removed")
    // serving: a probe duplicating doc 0's text pairs with 0 but no
    // longer with the removed 1
    val probe = Seq((100L,
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo0"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinHashPairs(shrunk, probe,
        col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)) && !pairs.exists(p => p._1 == 1L),
      s"shrunk catalog must pair with kept docs only, got $pairs")
    // idempotent deletes: absent ids are ignored (tombstone replay)
    val again = Dedup.dedupIndexRemove(shrunk, Seq(1L, 999L).toDF("doc_id"))
    assert(again.staged.count() == 16 && again.bands.count() == 16 * 16,
      "removing absent ids must be a no-op")
    // compaction: content untouched, pair set identical, partition count
    // at the explicit target (churned frames would otherwise keep
    // full-width scans over mostly-empty partitions)
    val compacted = Dedup.compactDedupIndex(shrunk, partitions = Some(3))
    assert(compacted.staged.rdd.getNumPartitions == 3 &&
      compacted.bands.rdd.getNumPartitions == 3,
      "compaction must re-materialize at the target partition count")
    val pairsC = Dedup.incrementalMinHashPairs(compacted, probe,
        col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsC == pairs, "compaction must not change the served pair set")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("compactDedupIndexIfFragmented: width and emptiness arms fire, within-bound catalog passes through untouched") {
    val docs = (0L until 12L).map { i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel india${i}")
    }.toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val w0 = math.max(index.staged.rdd.getNumPartitions,
      index.bands.rdd.getNumPartitions)
    // pass-through: width within bound, emptiness arm off → same instance
    val (same, fired0) = Dedup.compactDedupIndexIfFragmented(index,
      maxPartitions = Some(w0))
    assert(!fired0 && (same eq index),
      "a within-bound catalog must pass through untouched")
    // WIDTH arm: appends concatenate partitions past the bound
    val frag = Seq(12L, 13L).foldLeft(index) { (ix, i) =>
      Dedup.dedupIndexAppend(ix,
        Seq((i, s"juliet kilo lima mike november oscar papa$i"))
          .toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    val wF = math.max(frag.staged.rdd.getNumPartitions,
      frag.bands.rdd.getNumPartitions)
    assert(wF > w0, "appends must have widened the member frames")
    val (compacted, fired1) = Dedup.compactDedupIndexIfFragmented(frag,
      maxPartitions = Some(w0))
    val target = spark.sessionState.conf.numShufflePartitions
    assert(fired1 &&
      compacted.staged.rdd.getNumPartitions == target &&
      compacted.staged.count() == 14,
      "width arm must fire and re-materialize at natural width")
    // EMPTINESS arm: removes shed rows at constant width
    val shrunk = Dedup.dedupIndexRemove(compacted, (0L until 12L).toDF("doc_id"))
    assert(shrunk.bands.rdd.getNumPartitions == target &&
      shrunk.bands.count() == 2 * 16)
    val (_, fired2) = Dedup.compactDedupIndexIfFragmented(shrunk,
      maxPartitions = Some(100), minRowsPerPartition = 10L)
    assert(fired2, "emptiness arm must fire at 32 band rows over 4·10 floor")
    val (_, fired3) = Dedup.compactDedupIndexIfFragmented(shrunk,
      maxPartitions = Some(100))
    assert(!fired3, "emptiness arm is opt-in — disabled it must not fire")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("standing embedding catalog: incremental ≡ full-run restricted; remove ≡ fresh build; id guards; compaction preserves pairs") {
    // two exact-duplicate groups spanning the standing/batch split plus
    // noise vectors: cos(dup twin)=1 ≥ any threshold; distinct noise
    // directions stay below it
    def v(seed: Int) = Seq.tabulate(8)(d =>
      (((seed * 31 + d * 7) % 17).toDouble - 8.0) / 8.0)
    val rows = Seq(
      (0L, v(1)), (1L, v(2)), (2L, v(3)), (3L, v(4)), (4L, v(5)),
      (5L, v(1)), (6L, v(3)), (7L, v(6)))  // 5 dups 0, 6 dups 2
    val emb = rows.toDF("vec_id", "embedding")
    val standing = emb.filter(col("vec_id") < 5)
    val batch = emb.filter(col("vec_id") >= 5)
    val index = Dedup.buildEmbIndex(standing, col("vec_id"), col("embedding"),
      nPlanes = 4)
    // health: integer invariants on the tiny standing catalog (5 vectors
    // in ≥1 buckets; candidate mass bounded by the all-pairs count)
    val health = Dedup.embIndexHealth(index).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(health("vectors") == 5 && health("buckets") >= 1 &&
      health("hottest_bucket") <= 5 && health("total_candidate_pairs") <= 10,
      s"embIndexHealth invariants violated: $health")
    val inc = Dedup.incrementalEmbeddingNearDups(index, batch,
        col("vec_id"), col("embedding"), threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.embeddingNearDups(emb, col("vec_id"), col("embedding"),
        nPlanes = 4, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full.filter(p => p._1 >= 5 || p._2 >= 5) &&
      inc.contains((0L, 5L)) && inc.contains((2L, 6L)),
      s"incremental must equal the full run restricted to batch pairs: $inc")
    // id guards: in-batch duplicate and already-indexed id both throw
    intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDups(index,
        Seq((9L, v(1)), (9L, v(2))).toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), 0.95).count()
    }
    intercept[IllegalArgumentException] {
      Dedup.embIndexAppend(index, Seq((0L, v(1))).toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding")).vecs.count()
    }
    // append then remove: grown catalog serves batch-vs-all; removing id 0
    // ≡ a fresh build without it (per-vector rows)
    val grown = Dedup.embIndexAppend(index, batch,
      col("vec_id"), col("embedding"))
    assert(grown.vecs.count() == 8)
    val shrunk = Dedup.embIndexRemove(grown, Seq(0L, 999L).toDF("vec_id"))
    assert(shrunk.vecs.count() == 7, "absent ids must be ignored")
    val fresh = Dedup.buildEmbIndex(emb.filter(col("vec_id") =!= 0L),
      col("vec_id"), col("embedding"), nPlanes = 4)
    assert(shrunk.vecs.collect().map(_.toSeq).toSet ==
      fresh.vecs.collect().map(_.toSeq).toSet,
      "shrunk catalog must equal the fresh build on corpus∖removed")
    // compaction: content-identical at the target partition count
    val compacted = Dedup.compactEmbIndex(shrunk, partitions = Some(3))
    assert(compacted.vecs.rdd.getNumPartitions == 3)
    val probe = Seq((100L, v(3))).toDF("vec_id", "embedding")
    def pairsOf(ix: Dedup.EmbIndex) =
      Dedup.incrementalEmbeddingNearDups(ix, probe,
        col("vec_id"), col("embedding"), 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(compacted) == pairsOf(shrunk) &&
      pairsOf(compacted).contains((2L, 100L)),
      "compaction must not change the served pair set")
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("dedupIndexHealth: closed-form bucket stats on a known degenerate corpus") {
    // 3 identical docs + 1 unrelated: every band has one 3-doc bucket
    // (identical signatures) and one singleton → per band: buckets=2,
    // max_bucket=3, candidate_pairs=3·2/2=3; totals 16·3=48, hottest 3
    val docs = Seq(
      (1L, "same text for every clone here"), (2L, "same text for every clone here"),
      (3L, "same text for every clone here"), (4L, "completely different words entirely now"))
      .toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val h = Dedup.dedupIndexHealth(index)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(h(("docs", -1L)) == 4L)
    assert(h(("hottest_bucket", -1L)) == 3L)
    assert(h(("total_candidate_pairs", -1L)) == 48L)
    for (b <- 0L until 16L) {
      assert(h(("buckets", b)) == 2L, s"band $b buckets")
      assert(h(("max_bucket", b)) == 3L, s"band $b max")
      assert(h(("candidate_pairs", b)) == 3L, s"band $b pairs")
    }
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("connectedComponents: min-label clusters over a chain and an isolated pair") {
    // chain 3-7-9 (one component, min 3) + isolated pair 10-12 (min 10)
    val edges = Seq((3L, 7L), (7L, 9L), (10L, 12L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 10L -> 10L, 12L -> 10L))
  }

  test("verifyJaccard size-ratio prefilter never drops a pair at or above the threshold") {
    // A/B near-dups (J=13/23≈0.565); C is tiny (1 shingle) so the 0.5
    // prefilter discards (A,C) by size ratio alone — and full verify (no
    // prefilter) agrees it was sub-threshold anyway
    val aToks = (1 to 20).map(i => s"tok$i")
    val bToks = aToks.take(15) ++ (1 to 5).map(i => s"new$i")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")),
      (3L, "tok1 tok2 tok3")).toDF("doc_id", "text")
    val sh = Dedup.docShingles(docs, col("doc_id"), col("text"), 3)
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val filtered = Dedup.verifyJaccard(cand, sh, minJaccard = 0.5)
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val full = Dedup.verifyJaccard(cand, sh)
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(filtered == full && full == Set((1L, 2L)))
  }

  test("SimHash: identical docs have distance 0; hamming blocked pairs returned") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zx9 qq7 kk3 mm1")).toDF("doc_id", "text")
    val sims = Dedup.simHash(docs, col("doc_id"), col("text"))
    val pairs = Dedup.simHashPairs(sims, maxHamming = 0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash hot-band quarantine: planted clone bucket — output ≡ unquarantined at every bound") {
    // 12 clones (one simhash → every band bucket holds ≥12) + one near-dup
    // pair + one unrelated doc: the exact boilerplate shape that makes the
    // unbounded in-band self-join quadratic on a real corpus
    val clone = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((1L to 12L).map(i => (i, clone)) ++ Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (21L, "alpha beta gamma delta epsilon zeta eta iota"),
      (30L, "zx9 qq7 kk3 mm1 plutonium"))).toDF("doc_id", "text")
    val sims = graft.GraftCaches.persisted(
      Dedup.simHash(docs, col("doc_id"), col("text")))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "hamming").as[(Long, Long, Int)].collect().toSet
    val plain = pairSet(Dedup.simHashPairs(sims, maxHamming = 10))
    // the 66 clone pairs are all present at hamming 0
    assert((1L to 12L).combinations(2).forall(p =>
      plain.contains((p(0), p(1), 0))))
    // equality at a bound that quarantines the clone bucket, at the
    // everything-quarantined bound, and through the budget-derived bound
    for (bound <- Seq(6L, 1L))
      assert(pairSet(Dedup.simHashPairsQuarantined(sims, 10, bound)) == plain,
        s"quarantined(bound=$bound) diverged from the plain run")
    val (budgeted, bound) = Dedup.simHashPairsBudget(sims, 10, maxCandidatePairs = 10L)
    // 10 affordable pairs cannot admit the 12-clone buckets (66 pairs each)
    assert(bound < 12L)
    assert(pairSet(budgeted) == plain)
    // an ample budget admits every bucket (bound reaches the hottest size)
    assert(Dedup.simHashQuarantineBound(sims, 10, Long.MaxValue) >= 12L)
    graft.GraftCaches.unpersistAll(blocking = true)
  }

  test("bandGeometry: Manku-derived (blocks, m) — legacy special case at k ≤ 3, joint keys beyond") {
    // k ≤ 3 resolves to single-block bands (k = 3 is the legacy 4×16-bit
    // layout exactly — committed minhash-era fixtures stay valid); wider
    // thresholds derive multi-block joint keys under the 70-table cap
    assert(Dedup.bandGeometry(0) == ((1, 1)))
    assert(Dedup.bandGeometry(1) == ((2, 1)))
    assert(Dedup.bandGeometry(3) == ((4, 1)))
    assert(Dedup.bandGeometry(4) == ((6, 2)))   // C(6,2)=15 tables, 20-bit keys
    assert(Dedup.bandGeometry(6) == ((8, 2)))   // C(8,2)=28 tables, 16-bit keys
    assert(Dedup.bandGeometry(10) == ((12, 2))) // C(12,2)=66 tables, 10-bit keys
    intercept[IllegalArgumentException](Dedup.bandGeometry(-1))
    intercept[IllegalArgumentException](Dedup.bandGeometry(64))
  }

  test("banded recall holds AT the advertised threshold — pairs the r13 fixed 4-band layout missed") {
    // differing bits touching ALL FOUR legacy 16-bit bands: under the r13
    // layout such pairs shared no band and were silently dropped for any
    // maxHamming in 4..10 (the r13 verdict's weak mark); the derived
    // geometry guarantees them by pigeonhole
    val h0 = 0x0123456789ABCDEFL
    val flip4 = h0 ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))
    val flip10 = h0 ^ ((1L << 1) | (1L << 7) | (1L << 17) | (1L << 23) |
      (1L << 33) | (1L << 39) | (1L << 49) | (1L << 55) | (1L << 60) | (1L << 63))
    val sims = Seq((1L, h0), (2L, flip4), (3L, flip10)).toDF("doc_id", "simhash")
    def pairs(k: Int) = Dedup.simHashPairs(sims, k)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs(6) == Set((1L, 2L, 4)))               // found; hamming-10 pair correctly out
    assert(pairs(10) == Set((1L, 2L, 4), (1L, 3L, 10))) // both found ((2,3) is hamming 14)
    assert(pairs(3).isEmpty)                            // below both distances
    intercept[IllegalArgumentException](Dedup.simHashPairs(sims, -1))
  }

  test("near-boilerplate rep buckets: secondary complement-chunk tier — equality and candidates ≪ d²") {
    // d DISTINCT hashes sharing one 16-bit band (parameterized-template
    // shape): the distinct-collapse cannot shrink them, and the r13 rep
    // re-band re-joined all d²/2 in one bucket; the secondary tier re-keys
    // on complement chunks, so sub-buckets split the distinct tuples
    val d = 64
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val base = (0 until d).map(i => (i.toLong, (mix(i.toLong) << 16) | 0xABCDL))
    // plant one true near-dup (hamming 1) so equality is non-trivial
    val sims = (base :+ (100L, base.head._2 ^ (1L << 20))).toDF("doc_id", "simhash")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "hamming").as[(Long, Long, Int)].collect().toSet
    val plain = pairSet(Dedup.simHashPairs(sims, maxHamming = 3))
    assert(plain.contains((0L, 100L, 1)))
    for (bound <- Seq(1L, 4L, 16L))
      assert(pairSet(Dedup.simHashPairsQuarantined(sims, 3, bound)) == plain,
        s"secondary tier diverged from the plain run at bound=$bound")
    // candidate mass of the secondary tier over the planted hot bucket:
    // 48 complement bits / 4 chunks of 12 → ~d²/2¹² expected collisions,
    // vs the unbounded rep re-band's d·(d−1)/2
    val (blocks, m) = Dedup.bandGeometry(3)
    val hotMembers = Dedup.bandedOf(sims, Seq("simhash"), 3)
      .filter(col("band_idx") === 0 && col("band_val") === 0xABCDL)
    val cand = Dedup.secondaryKeyed(hotMembers, Seq("simhash"), 3, blocks, m)
      .groupBy("band_idx", "band_val", "sec_idx", "sec_val")
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")),
        lit(0L)).as("c"))
      .head().getLong(0)
    val allPairs = d.toLong * (d + 1) / 2
    assert(cand < allPairs / 8,
      s"secondary candidates $cand not ≪ the rep bucket's all-pairs $allPairs")
  }

  test("budgetBoundFromHistogram saturates instead of overflowing at web-scale clone buckets") {
    // n = 4×10⁹ → buckets·n(n−1)/2 ≈ 1.6×10¹⁹ overflows raw Long math
    // NEGATIVE, sneaking the hottest buckets under any finite budget (the
    // r13 ADVICE finding); saturating arithmetic rejects them
    val hist = Seq((2L, 10L), (4000000000L, 2L))
    assert(Dedup.budgetBoundFromHistogram(hist, 1000000L) == 2L)
    // an AMPLE budget still admits a saturated bucket (bound = hottest)
    val hist2 = Seq((2L, 1L), (5000000000L, 1L))
    assert(Dedup.budgetBoundFromHistogram(hist2, Long.MaxValue) == 5000000000L)
  }

  test("token counts, punctuation, mean token length") {
    val r = Seq("Hi,  world! 42").toDF("text").select(
      TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.bpeishTokenCount(col("text")).as("b"),
      TextAnalysis.punctCount(col("text")).as("p"),
      TextAnalysis.meanTokenLen(col("text")).as("m")).head()
    assert(r.getLong(0) == 3)      // "Hi,", "world!", "42"
    assert(r.getLong(1) == 5)      // Hi , world ! 42
    assert(r.getLong(2) == 2)      // , !
    assert(math.abs(r.getDouble(3) - (3 + 6 + 2) / 3.0) < 1e-9) // "Hi," "world!" "42"
  }

  test("empty document: all counts 0, no NaN") {
    val r = Seq("").toDF("text").select(
      TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.meanTokenLen(col("text")).as("m"),
      TextAnalysis.stopwordRatio(col("text")).as("s"),
      TextAnalysis.qualityScore(col("text")).as("q")).head()
    assert(r.getLong(0) == 0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    assert(!r.getDouble(3).isNaN)
  }

  test("stopword ratio and quality score bounds") {
    val df = Seq("the cat sat on the mat", "xq zzkrv 9913 @@@@").toDF("text")
      .select(TextAnalysis.stopwordRatio(col("text")).as("s"),
        TextAnalysis.qualityScore(col("text")).as("q"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 3.0 / 6) < 1e-9) // the, on, the
    rows.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    assert(rows(0).getDouble(1) > rows(1).getDouble(1)) // english beats symbol soup
  }

  test("connectedComponents equals a local union-find on seeded random graphs") {
    val r = new scala.util.Random(7)
    for (c <- 1 to 4) {
      val edges = Seq.fill(30 + r.nextInt(15))(
        (r.nextInt(40).toLong, r.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      // local reference: union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val root = find(p); parent(x) = root; root }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(got == expected, s"case $c: ${edges.take(5)}…")
      // star contraction must agree with both on the same graphs
      val star = Dedup.connectedComponentsStar(edges.toDF("id1", "id2"))
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(star == expected, s"star case $c: ${edges.take(5)}…")
    }
  }

  test("connectedComponentsStar: long chain converges in O(log n) rounds; propagation throws") {
    // a 120-node chain has diameter 119 — min-label propagation cannot
    // finish inside 10 rounds and must REFUSE to return the wrong labels...
    val chain = (0L until 119L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxRounds = 10).collect()
    }
    // ...while star contraction needs only ~log2(120) alternations
    val star = Dedup.connectedComponentsStar(chain, maxRounds = 10)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(star == (0L to 119L).map(_ -> 0L).toMap,
      "every chain node must label to 0")
  }

  test("dedup pipelines tolerate pathological inputs (null, empty, 1-token, unicode)") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "word"),
      (4L, "héllo wörld ünïcode"), (5L, "héllo wörld ünïcode"))
      .toDF("doc_id", "text")
    // null text drops at the scan; only the unicode duplicates pair up
    val pairs = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
        numHashes = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((4L, 5L)))
    // exact dedup: null, empty, "word", unicode-normalized → 4 fingerprints
    assert(Dedup.exact(docs, col("doc_id"), col("text")).count() == 4L)
  }

  test("charShingles: unsegmented text shingles; near-dup overlap ranks above unrelated") {
    // no whitespace at all — word shingling yields ONE shingle, char
    // shingling still produces len-k+1 windows
    val solid = Seq((9L, "abcdefgh")).toDF("doc_id", "text")
      .select(Dedup.charShingles(col("text"), 5).as("sh")).collect()(0).getSeq[String](0)
    assert(solid == Seq("abcde", "bcdef", "cdefg", "defgh"))
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), explode(Dedup.charShingles(col("text"), 5)).as("shingle"))
    val j = Dedup.verifyJaccard(Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2"), sh)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(j((1L, 2L)) > 0.5, s"near-dup pair too low: $j")
    assert(j((1L, 3L)) < 0.1, s"unrelated pair too high: $j")
  }

  test("charShingles: non-Latin scripts survive normalization and shingle") {
    // the advertised use case — CJK/Thai text the ASCII normalizer would
    // blank entirely; charShingles must keep every script's letters (and
    // Thai combining marks) and near-dup CJK must out-rank unrelated CJK
    val cjk = Seq((1L, "深度学习模型的训练数据！")).toDF("doc_id", "text")
      .select(Dedup.charShingles(col("text"), 5).as("sh")).collect()(0).getSeq[String](0)
    assert(cjk.nonEmpty && cjk.head == "深度学习模", s"CJK shingles wrong: $cjk")
    assert(cjk.length == 7, s"11 kept chars => 7 windows, got ${cjk.length}: $cjk")
    val thai = Seq((2L, "ข้อมูลการฝึกอบรม")).toDF("doc_id", "text")
      .select(Dedup.charShingles(col("text"), 5).as("sh")).collect()(0).getSeq[String](0)
    // tone/vowel marks (\p{M}) survive: the first window keeps U+0E49
    assert(thai.nonEmpty && thai.head.contains('้'), s"Thai marks lost: $thai")
    val docs = Seq(
      (1L, "深度学习模型的训练数据质量"),
      (2L, "深度学习模型的预训练语料库"),
      (3L, "完全不同的另一段中文文本")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"), explode(Dedup.charShingles(col("text"), 3)).as("shingle"))
    val j = Dedup.verifyJaccard(Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2"), sh)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(j((1L, 2L)) > j((1L, 3L)), s"CJK near-dup must out-rank unrelated: $j")
  }

  test("corpusLineDedup: corpus-repeated lines removed, order kept, empty doc handled") {
    val docs = Seq(
      (1L, "unique one\nCOOKIE BANNER\nunique two"),
      (2L, "COOKIE BANNER\nother text\nFOOTER"),
      (3L, "FOOTER\nCOOKIE BANNER")) // every line a corpus duplicate → cleaned to ""
      .toDF("doc_id", "text")
    val got = Dedup.corpusLineDedup(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def md5s(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, md5s("unique one\nunique two")), // kept lines re-joined in order
      (2L, 3L, 2L, md5s("other text")),
      (3L, 2L, 2L, md5s(""))), s"got: ${got.toSeq}")
    // partitioning must not change anything (map-side combine + keyed joins)
    val repart = Dedup.corpusLineDedup(docs.repartition(7), col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(repart.toSeq == got.toSeq)
  }

  test("duplicatedWindowStats: shared span flagged in both docs, short doc zero") {
    // docs 1 and 2 share an 18-char span ("the shared span xx" normalized);
    // winLen=10 → every window inside the span is corpus-duplicated
    val span = "the shared span of text carried over verbatim"
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"unrelated prefix words $span and a different tail"),
      (3L, "completely original content nothing copied here at all"),
      (4L, "tiny")) // shorter than one window
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(docs, col("doc_id"), col("text"),
        winLen = 10, minDocs = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(4L)._2 == 0L && byId(4L)._3 == 0L, "short doc must report zero windows")
    assert(byId(3L)._3 == 0L, "original doc must have no duplicated windows")
    // both sharing docs flag the same distinct duplicated windows: the
    // shared normalized region is " span " (flanking spaces shared too),
    // so len+2-10+1 windows; doc-local context windows stay unique
    val nShared = (span.length + 2 - 10 + 1).toLong
    assert(byId(1L)._4 == nShared && byId(2L)._4 == nShared,
      s"shared-span distinct windows: ${byId(1L)} ${byId(2L)}")
    assert(byId(1L)._3 >= nShared && byId(2L)._3 >= nShared)
    assert(byId(1L)._2 > byId(1L)._3, "doc 1 must also have non-duplicated windows")
  }

  test("splitAssign: partitioning-independent, roughly 80/10/10") {
    graft.plans.GraftFunctions.register(spark)
    val docs = spark.range(1000).toDF("doc_id")
    val s1 = docs.select(col("doc_id"),
      graft.functions.TextAnalysis.splitAssign(col("doc_id")).as("split"))
    val s2 = docs.repartition(7).select(col("doc_id"),
      graft.functions.TextAnalysis.splitAssign(col("doc_id")).as("split"))
    assert(s1.collect().toSet == s2.collect().toSet,
      "split assignment must not depend on partitioning")
    val counts = s1.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 700 && counts("train") < 900, s"skewed split: $counts")
    assert(counts.values.sum == 1000L)
  }

  test("graft_minhash_sig (map-side codegen) equals the exploded min-aggregation signatures") {
    graft.plans.GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .union(Seq((9001L, "one two three four five"), (9003L, "short"))
        .toDF("doc_id", "text"))
    val staged = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val fast = staged.select(col("doc_id"),
        expr("graft_minhash_sig(__sh, 32)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val agg = Dedup.minHashSignatures(
        staged.select(col("doc_id"), explode(col("__sh")).as("shingle")), 32)
      .collect().map(r => r.getLong(0) -> (1 to 32).map(i => r.getInt(i))).toMap
    assert(fast.keySet == agg.keySet && fast.keySet.nonEmpty)
    fast.foreach { case (id, s) => assert(s.toSeq == agg(id).toSeq, s"doc $id") }
  }

  test("graft_rolling_hash (codegen) is bit-identical to the HoF fold on normalized text") {
    graft.plans.GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
      .union(Seq("", "   ", "a", "Hello, World! 42").toDF("text"))
      .select(TextAnalysis.normalizeText(col("text")).as("norm"))
    val diff = docs.select(
        TextAnalysis.rollingHashFromNormalized(col("norm")).as("fast"),
        TextAnalysis.rollingHashHofFromNormalized(col("norm")).as("hof"))
      .filter(col("fast") =!= col("hof")).count()
    assert(diff == 0L)
  }

  test("fingerprint is case/punctuation-insensitive; rollingHash is order-sensitive") {
    val df = Seq(("Hello, World", "hello world", "world hello")).toDF("a", "b", "c")
      .select(TextAnalysis.fingerprint(col("a")).as("fa"),
        TextAnalysis.fingerprint(col("b")).as("fb"),
        TextAnalysis.rollingHash(col("a")).as("ra"),
        TextAnalysis.rollingHash(col("c")).as("rc")).head()
    assert(df.getString(0) == df.getString(1))
    assert(df.getLong(2) != df.getLong(3))
  }

  test("langId votes by stopword profile; no hits → 'und'") {
    val df = Seq(
      "the cat and the dog are in the house",
      "el perro y el gato en la casa de los vecinos",
      "zzz qqq 123").toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l")).as[String].collect()
    assert(df.toSeq == Seq("en", "es", "und"))
  }

  test("normalizeText/terms: one-pass forms ≡ historical two-pass/regex forms") {
    // The production normalizer collapses [^a-z0-9]+ in ONE pass and
    // tokenizes with a plain split; pin both against the original
    // strip-then-collapse + \S+-regex formulations on adversarial input.
    val nasty = Seq(
      "", "   ", "!!!", "\t\n mixed WS\r\n", "a", "Hello, World!  42",
      "tabs\tand\nnewlines", "..a..b..", "ümläut-ünïcode 日本語 mixed",
      "UPPER lower 123 #$%^&* end.", " lead and trail ", "a-b_c.d,e;f")
      .zipWithIndex.map(_.swap)
    val df = nasty.toDF("i", "t")
    val oldNorm = trim(regexp_replace(
      regexp_replace(lower(col("t")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val oldTerms = regexp_extract_all(oldNorm, lit("\\S+"), lit(0))
    val bad = df.select(
      TextAnalysis.normalizeText(col("t")).as("n1"), oldNorm.as("n2"),
      TextAnalysis.terms(col("t")).as("t1"), oldTerms.as("t2"))
      .filter(col("n1") =!= col("n2") || col("t1") =!= col("t2"))
    assert(bad.count() == 0, bad.collect().mkString("; "))
  }

  test("triangleCounts: K4 nodes each sit in 3 triangles; paths and stars in none") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (5L, 6L), (6L, 7L),                                          // path
      (8L, 9L), (8L, 10L), (8L, 11L),                              // star
      (2L, 1L), (3L, 3L))                       // reverse dup + self-loop noise
      .toDF("id1", "id2")
    val r = Dedup.triangleCounts(edges).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("n_triangles")))
    // K4 has C(4,3)=4 triangles; each node participates in C(3,2)=3.
    // Path/star nodes close no wedge and must not appear at all.
    assert(r.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), r.toSeq)
  }

  test("leakage-safe split: whole clusters share one split, so no pair straddles") {
    graft.plans.GraftFunctions.register(spark)
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two clusters ({1,2,3} and {10,11}) plus singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponentsStar(pairs)
    val assigned = docs.join(cc, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"),
        TextAnalysis.splitAssign(col("group_id")).as("split"))
    val bySplit = assigned.as[(Long, String)].collect().toMap
    // every cluster member carries its cluster's split — pairs can't leak
    assert(bySplit(1L) == bySplit(2L) && bySplit(2L) == bySplit(3L))
    assert(bySplit(10L) == bySplit(11L))
    // singletons still split by their own id: same assignment corpus_split
    // would give them (group_id == doc_id), pinning cross-query consistency
    val solo = docs.filter(col("doc_id") === 20L)
      .select(TextAnalysis.splitAssign(col("doc_id"))).as[String].head()
    assert(bySplit(20L) == solo)
  }

  // ------------------------------------------------ hot-bucket quarantine
  /** A corpus with a PLANTED HOT BUCKET: 8 docs sharing heavy boilerplate
    * (J ≈ 1 pairwise — every band collides, one 8-doc bucket per band)
    * plus unrelated singletons and one clean near-dup pair. */
  private def hotCorpus = {
    val boiler = (1 to 30).map(i => s"boiler$i").mkString(" ")
    val hot = (1L to 8L).map(i => (i, s"$boiler tail$i"))
    val clean = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"),
      (21L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (30L, "completely unrelated content about spark catalyst rule ordering"))
    (hot ++ clean).toDF("doc_id", "text")
  }

  test("quarantine no-op: bound above the hottest bucket reproduces the plain run exactly") {
    val index = Dedup.buildDedupIndex(hotCorpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    // hottest bucket is the 8-doc boilerplate cluster
    val plain = Dedup.minHashDedupPairs(hotCorpus, col("doc_id"), col("text"),
      32, 16, 0.5, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quar = Dedup.quarantinedPairs(index, 0.5, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quar == plain, s"no-op quarantine diverged: $quar vs $plain")
    Dedup.releaseDedupIndex(index)
  }

  test("quarantine on a planted hot bucket: candidate cost drops, pair recall preserved") {
    val index = Dedup.buildDedupIndex(hotCorpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val (coldBands, hotDocs) = Dedup.quarantineBuckets(index, maxBucket = 4)
    // the boilerplate cluster is sidelined; the clean docs keep their bands
    assert(hotDocs.collect().map(_.getLong(0)).toSet == (1L to 8L).toSet)
    // candidate-join cost: the hot bucket alone contributes 16 bands ×
    // C(8,2)=28 pairs; after quarantine the cold self-join must carry none
    val coldCand = Dedup.lshCandidates(coldBands).count()
    val plainCand = Dedup.lshCandidates(index.bands).count()
    assert(coldCand < plainCand,
      s"quarantine did not shrink the candidate join ($coldCand vs $plainCand)")
    // recall: the lossless fallback must recover every pair of the plain
    // run (boilerplate pairs via the prefix join, clean pairs via cold LSH)
    val plain = Dedup.minHashDedupPairs(hotCorpus, col("doc_id"), col("text"),
      32, 16, 0.5, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quar = Dedup.quarantinedPairs(index, 0.5, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(quar),
      s"quarantine lost pairs: ${plain -- quar}")
    assert(quar.contains((20L, 21L)), "clean near-dup pair must survive on the cold path")
    assert((1L to 8L).combinations(2).forall(p => quar.contains((p(0), p(1)))),
      "boilerplate pairs must be recovered by the exact fallback")
    Dedup.releaseDedupIndex(index)
  }

  test("quarantine budget policy: bound is the largest affordable cumulative prefix; recall never drops") {
    val index = Dedup.buildDedupIndex(hotCorpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val plain = Dedup.minHashDedupPairs(hotCorpus, col("doc_id"), col("text"),
      32, 16, 0.5, 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // zero budget: everything quarantined (bound 1 — pure prefix path);
    // the lossless fallback must still recover every plain-run pair
    val (pairs0, bound0) = Dedup.quarantinedPairsBudget(index, 0.5, 0L)
    assert(bound0 == 1L)
    val set0 = pairs0.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(set0), s"zero-budget lost pairs: ${plain -- set0}")
    // ample budget: no-op (bound reaches the hottest bucket), exact plain run
    val (pairsBig, boundBig) = Dedup.quarantinedPairsBudget(index, 0.5, 1000000L)
    assert(boundBig == 8L, s"ample budget must keep the 8-doc bucket ($boundBig)")
    val setBig = pairsBig.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(setBig == plain)
    // middle budget: the 16 bands × C(8,2)=28-pair hot buckets (448 pairs)
    // are unaffordable at 100, the ≤2 buckets are — bound lands between
    val (pairsMid, boundMid) = Dedup.quarantinedPairsBudget(index, 0.5, 100L)
    assert(boundMid >= 1L && boundMid < 8L, s"bound $boundMid")
    val setMid = pairsMid.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(setMid))
    Dedup.releaseDedupIndex(index)
  }

  test("incremental quarantine: batch vs planted hot bucket — cold join shrinks, batch-touching recall preserved") {
    // standing corpus: the 8-doc boilerplate cluster + singletons; the
    // batch: one more boilerplate near-dup (pairs with all 8 ONLY through
    // the hot bucket) and one clean near-dup of doc 20 (cold path)
    val standing = hotCorpus
    val boiler = (1 to 30).map(i => s"boiler$i").mkString(" ")
    val batch = Seq(
      (100L, s"$boiler tail100"),
      (101L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(standing, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val plain = Dedup.incrementalMinHashPairs(index, batch,
        col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.GraftCaches.unpersistAll(blocking = true)
    val quar = Dedup.incrementalMinHashPairsQuarantined(index, batch,
        col("doc_id"), col("text"), 0.5, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.subsetOf(quar), s"quarantine lost pairs: ${plain -- quar}")
    // the boilerplate batch doc must still pair with every hot member —
    // recovered by the fallback, since its buckets left the cold join
    assert((1L to 8L).forall(i => quar.contains((i, 100L))),
      s"hot-member pairs missing: $quar")
    assert(quar.contains((20L, 101L)), "clean pair must survive the cold path")
    // no standing-standing pair may appear (the incremental contract)
    assert(quar.forall(p => p._1 >= 100L || p._2 >= 100L),
      s"non-batch pair leaked: ${quar.filter(p => p._1 < 100L && p._2 < 100L)}")
    Dedup.releaseDedupIndex(index)
  }

  test("dedup catalog save→load serves incremental batches identically to the built index") {
    val docs = (0L until 20L).map { i =>
      val base = s"golf hotel india juliet kilo lima mike november oscar papa q${i / 2}"
      (i, if (i % 2 == 0) base else base + " romeo")
    }.toDF("doc_id", "text")
    val built = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val inMem = Dedup.incrementalMinHashPairs(built, batch, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inMem.nonEmpty)
    graft.GraftCaches.unpersistAll(blocking = true)
    val path = java.nio.file.Files.createTempDirectory("dedup_rt").toString
    Dedup.saveDedupIndex(built, path)
    val loaded = Dedup.loadDedupIndex(spark, path)
    assert(loaded.numHashes == 32 && loaded.nBands == 16 && loaded.shingleK == 3)
    val fromDisk = Dedup.incrementalMinHashPairs(loaded, batch, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromDisk == inMem,
      s"loaded catalog diverged: ${fromDisk -- inMem} / ${inMem -- fromDisk}")
    Dedup.releaseDedupIndex(built); Dedup.releaseDedupIndex(loaded)
  }

  test("autoBanding: committed 16×2 at gate scale; rows rise with corpus decades; recall bound holds; budget caps") {
    // ≤ 10^5 docs resolve to the committed recall-generous banding
    assert(Dedup.autoBanding(500L, 0.5) == ((32, 16)))
    assert(Dedup.autoBanding(100000L, 0.5) == ((32, 16)))
    // one extra row per decade: 10^6 → r=3, 10^7 → r=4 (bands from the
    // ≥95%-recall-at-threshold bound b = ceil(3/t^r), floored at 16)
    assert(Dedup.autoBanding(1000000L, 0.5) == ((72, 24)))   // 24 bands × 3
    assert(Dedup.autoBanding(10000000L, 0.5) == ((192, 48))) // 48 bands × 4
    // the 512-hash budget caps r for low thresholds (r=6 at t=0.5 would
    // need 192 bands = 1152 hashes): 10^9 wants r=6, affords r=5
    val (h9, b9) = Dedup.autoBanding(1000000000L, 0.5)
    assert(h9 <= 512 && h9 == b9 * 5, s"budget cap violated: ($h9, $b9)")
    // recall-at-threshold bound: every derived banding keeps
    // 1-(1-t^r)^b ≥ 0.95
    for (n <- Seq(500L, 1000000L, 10000000L, 1000000000L); t <- Seq(0.5, 0.8)) {
      val (h, b) = Dedup.autoBanding(n, t)
      val r = h / b
      val recall = 1.0 - math.pow(1.0 - math.pow(t, r), b)
      assert(recall >= 0.95, s"autoBanding($n, $t) = ($h, $b): recall $recall")
    }
    // higher thresholds afford sharper curves within the 16-band floor
    assert(Dedup.autoBanding(10000000L, 0.8) == ((64, 16))) // 16 bands × 4
  }

  test("rebuildCatalogIfStale: derived banding passes through same-object; legacy banding re-bands ≡ fresh build, staged frame shared") {
    val docs = (0L until 20L).map { i =>
      val base = s"sierra tango uniform victor whiskey xray yankee zulu alpha bravo c${i / 2}"
      (i, if (i % 2 == 0) base else base + " delta")
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // PASS-THROUGH: a catalog already at the derived banding (autoBanding
    // of any ≤10^5 count at t=0.5 is 16×2) returns the SAME OBJECT
    val current = Dedup.buildDedupIndex(corpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val (same, fired0) = Dedup.rebuildCatalogIfStale(current, 0.5)
    assert(!fired0 && (same eq current), "derived banding must pass through unchanged")
    // FIRE: a legacy 8-band catalog re-bands to the derived 16×2 —
    // band frame bit-identical to a fresh build's (same staged frame,
    // same signature/banding expressions), staged frame SHARED
    val legacy = Dedup.buildDedupIndex(corpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 8, shingleK = 3)
    val (rebuilt, fired) = Dedup.rebuildCatalogIfStale(legacy, 0.5)
    assert(fired, "legacy banding must fire the policy")
    assert(rebuilt.numHashes == 32 && rebuilt.nBands == 16)
    assert(rebuilt.staged eq legacy.staged,
      "re-banding must reuse the catalog's staged frame, not re-stage the corpus")
    val freshBands = current.bands
      .collect().map(_.toSeq).toSet
    val rebuiltBands = rebuilt.bands
      .collect().map(_.toSeq).toSet
    assert(rebuiltBands == freshBands,
      "rebuilt band catalog must be bit-identical to a fresh build at the derived banding")
    // serving equivalence end-to-end: incremental pairs against the
    // rebuilt catalog ≡ against the fresh-built one
    val viaRebuilt = Dedup.incrementalMinHashPairs(rebuilt, batch,
        col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaFresh = Dedup.incrementalMinHashPairs(current, batch,
        col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaRebuilt.nonEmpty && viaRebuilt == viaFresh,
      s"rebuilt serving diverged: ${viaRebuilt -- viaFresh} / ${viaFresh -- viaRebuilt}")
    // generation roll: only the superseded BAND frame is released (the
    // staged frame is shared with the rebuilt catalog and must survive)
    legacy.bands.unpersist(true)
    assert(rebuilt.staged.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "shared staged frame must stay resident after releasing the old bands")
    Dedup.releaseDedupIndex(current); Dedup.releaseDedupIndex(rebuilt)
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("embedding catalog lifecycle: save/load roundtrip, plane rebuild policy, compaction policy convergence, hot-bucket quarantine") {
    def v(seed: Int) = Seq.tabulate(8)(d =>
      (((seed * 31 + d * 7) % 17).toDouble - 8.0) / 8.0)
    val rows = Seq(
      (0L, v(1)), (1L, v(2)), (2L, v(3)), (3L, v(4)), (4L, v(5)),
      (5L, v(1)), (6L, v(3)), (7L, v(6)))
    val emb = rows.toDF("vec_id", "embedding")
    val standing = emb.filter(col("vec_id") < 5)
    val batch = emb.filter(col("vec_id") >= 5)
    val index = Dedup.buildEmbIndex(standing, col("vec_id"), col("embedding"),
      nPlanes = 4)
    def served(ix: Dedup.EmbIndex) =
      Dedup.incrementalEmbeddingNearDups(ix, batch,
          col("vec_id"), col("embedding"), threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = served(index)
    assert(base.contains((0L, 5L)) && base.contains((2L, 6L)))
    // SAVE/LOAD roundtrip: loaded serving ≡ built serving (doubles and
    // the bucket long are storage-exact)
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_rt").toFile
    try {
      Dedup.saveEmbIndex(index, dir.getAbsolutePath)
      val loaded = Dedup.loadEmbIndex(spark, dir.getAbsolutePath)
      assert(loaded.nPlanes == 4 && served(loaded) == base,
        "loaded catalog must serve the built catalog's pair set")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
    // autoPlanes: exact integer derivation — smallest p with target·2^p ≥ n
    assert(Dedup.autoPlanes(0L) == 2 && Dedup.autoPlanes(128L) == 2,
      "floor at 2 planes")
    assert(Dedup.autoPlanes(129L) == 3, "one past the 2-plane capacity")
    assert(Dedup.autoPlanes(400L) == 4, "the sf0.01 standing catalog")
    assert(Dedup.autoPlanes(1600L) == 6, "the sf0.1 standing catalog")
    assert(Dedup.autoPlanes(Long.MaxValue / 4) == 32, "cap at 32 planes")
    // REBUILD policy: right-sized passes through as the same reference;
    // stale planes fire and the rebuilt catalog ≡ a fresh build at the
    // derived count (bit-identical bucketing expression)
    val rightSized = Dedup.buildEmbIndex(standing,
      col("vec_id"), col("embedding"), nPlanes = Dedup.autoPlanes(5L))
    val (sameIx, fired0) = Dedup.rebuildEmbIndexIfStale(rightSized)
    assert(!fired0 && (sameIx eq rightSized),
      "a right-sized catalog must pass through untouched")
    val legacy = Dedup.buildEmbIndex(standing,
      col("vec_id"), col("embedding"), nPlanes = 7)
    val (rebuilt, fired1) = Dedup.rebuildEmbIndexIfStale(legacy)
    assert(fired1 && rebuilt.nPlanes == 2)
    val fresh2 = Dedup.buildEmbIndex(standing,
      col("vec_id"), col("embedding"), nPlanes = 2)
    assert(rebuilt.vecs.collect().map(_.toSeq).toSet ==
      fresh2.vecs.collect().map(_.toSeq).toSet &&
      served(rebuilt) == served(fresh2),
      "rebuilt catalog must equal the fresh build at the derived planes")
    // COMPACTION policy: width arm lands inside the bound; emptiness arm
    // sizes from rows; both reach a fixed point
    val w0 = index.vecs.rdd.getNumPartitions
    val grown = Dedup.embIndexAppend(index, batch,
      col("vec_id"), col("embedding"))
    assert(grown.vecs.rdd.getNumPartitions > w0,
      "append must have widened the member frame")
    val probe = Seq((100L, v(3))).toDF("vec_id", "embedding")
    def servedP(ix: Dedup.EmbIndex) =
      Dedup.incrementalEmbeddingNearDups(ix, probe,
          col("vec_id"), col("embedding"), threshold = 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (cp, f1) = Dedup.compactEmbIndexIfFragmented(grown,
      maxPartitions = Some(w0))
    val cap = math.min(spark.sessionState.conf.numShufflePartitions, w0)
    assert(f1 && cp.vecs.rdd.getNumPartitions == cap &&
      servedP(cp) == servedP(grown) && servedP(cp).contains((2L, 100L)),
      "width arm must fire, land inside the bound, and preserve serving")
    val (_, refire1) = Dedup.compactEmbIndexIfFragmented(cp,
      maxPartitions = Some(w0))
    assert(!refire1, "width arm must reach a fixed point")
    val (lean, f2) = Dedup.compactEmbIndexIfFragmented(cp,
      maxPartitions = Some(100), minRowsPerPartition = 5L)
    assert(f2 && lean.vecs.rdd.getNumPartitions == 1,
      "emptiness target derives from rows: clamp(8/5, 1, 4) = 1")
    val (_, refire2) = Dedup.compactEmbIndexIfFragmented(lean,
      maxPartitions = Some(100), minRowsPerPartition = 5L)
    assert(!refire2, "emptiness arm must reach a fixed point")
    // QUARANTINE: with every multi-member bucket quarantined (bound 1),
    // the cell-join fallback must reproduce the plain within-bucket pair
    // set exactly — the lossless contract
    val all8 = Dedup.buildEmbIndex(emb, col("vec_id"), col("embedding"),
      nPlanes = 2)
    val (_, hot) = Dedup.quarantineEmbBuckets(all8, maxBucket = 1L)
    assert(hot.count() >= 2, "bound 1 must quarantine the duplicate buckets")
    def triple(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = triple(Dedup.embeddingNearDups(emb,
      col("vec_id"), col("embedding"), nPlanes = 2, threshold = 0.95))
    val quar = triple(Dedup.embeddingNearDupsQuarantined(all8,
      threshold = 0.95, maxBucket = 1L))
    assert(plain.nonEmpty && quar == plain,
      s"quarantined pairs diverged: ${quar -- plain} / ${plain -- quar}")
    // cell-boundary coverage: three unit 2-d vectors whose max-variance
    // coordinate straddles a cell edge at w = √(2−2·0.95) ≈ 0.3162
    // (sin 0.30 = 0.2955 < w < sin 0.36 = 0.3523) — the Δcell = 1 probe
    // must surface the straddling pairs, the same-cell path the third
    val thetas = Seq(10L -> 0.30, 11L -> 0.34, 12L -> 0.36)
    val straddle = thetas.map { case (id, t) =>
      (id, Seq(math.sin(t), math.cos(t))) }.toDF("vec_id", "embedding")
    val sIx = Dedup.buildEmbIndex(straddle, col("vec_id"), col("embedding"),
      nPlanes = 2)
    val sPlain = triple(Dedup.embeddingNearDups(straddle,
      col("vec_id"), col("embedding"), nPlanes = 2, threshold = 0.95))
    assert(sPlain.map(p => (p._1, p._2)) ==
      Set((10L, 11L), (10L, 12L), (11L, 12L)),
      s"straddle family must share a bucket and pass the threshold: $sPlain")
    val sQuar = triple(Dedup.embeddingNearDupsQuarantined(sIx,
      threshold = 0.95, maxBucket = 1L))
    assert(sQuar == sPlain,
      s"cell-boundary pairs lost: ${sPlain -- sQuar}")
    // budget bound: 0 quarantines everything (bound 1); an ample budget
    // admits the hottest bucket
    assert(Dedup.embQuarantineBudgetBound(all8, 0L) == 1L)
    val hottest = Dedup.embIndexHealth(all8).collect()
      .collectFirst { case r if r.getString(0) == "hottest_bucket" =>
        r.getLong(2) }.get
    assert(Dedup.embQuarantineBudgetBound(all8, Long.MaxValue / 4) == hottest)
    graft.GraftCaches.unpersistAll()
    graft.GraftCaches.releaseArtifacts()
  }

  test("simhash secondary key at maxHamming = 10 (66 tables) compiles inside the 64 KB method limit") {
    // the quarantine's secondary tier re-keys hot rep buckets on the
    // band's complement bits, computed by one function of band_idx, so
    // no per-band expression over all 66 bands reaches generated code. With
    // the interpreter fallback off, an oversized generated method fails
    // the query instead of logging and falling back
    val (blocks, m) = Dedup.bandGeometry(10)
    assert((0 until blocks).combinations(m).size == 66)
    val clone = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((1L to 12L).map(i => (i, clone)) ++ Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (21L, "alpha beta gamma delta epsilon zeta eta iota"),
      (30L, "zx9 qq7 kk3 mm1 plutonium"))).toDF("doc_id", "text")
    val sims = graft.GraftCaches.persisted(
      Dedup.simHash(docs, col("doc_id"), col("text")))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "hamming").as[(Long, Long, Int)].collect().toSet
    val plain = pairSet(Dedup.simHashPairs(sims, maxHamming = 10))
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      for (bound <- Seq(6L, 1L))
        assert(pairSet(Dedup.simHashPairsQuarantined(sims, 10, bound)) == plain,
          s"quarantined(bound=$bound) diverged from the plain run")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      graft.GraftCaches.unpersistAll(blocking = true)
    }
  }
}
