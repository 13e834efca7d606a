package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftCaches.Persistable

/** Approximate-nearest-neighbour search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query side — at scale
  * the query set is small and the corpus is the 100 TB side, so the join is
  * a broadcast nested loop over a single corpus scan, no shuffle of the
  * corpus). Scale path: random-hyperplane LSH bucketing so only same-bucket
  * pairs are scored.
  *
  * All vector math uses `zip_with`/`aggregate` higher-order functions —
  * evaluated per-row inside codegen, no UDF serialization.
  *
  * CACHE CONTRACT: `ivfTopK` persists the keyed corpus and inverted lists
  * and returns a LAZY frame (unpersisting before materialization would
  * recompute Lloyd per consumer; materializing eagerly would hide the plan
  * from callers). Internal persists register with [[graft.GraftCaches]];
  * sessions running many queries call `GraftCaches.unpersistAll()` after
  * materializing (releases only the library's caches) — `Bench`/`Verify`
  * do per query.
  */
object Similarity {

  /** Dot product of two equal-length double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity (0 when either norm is 0) — portable higher-order
    * form. NOTE: HigherOrderFunction is CodegenFallback (interpreted per
    * row); hot paths use [[cosineFast]]. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, lit(0.0)).otherwise(d / nn)
  }

  /** Native codegen cosine ([[graft.plans.ArrayCosineSimilarity]]): one
    * fused Java loop for dot + norms inside whole-stage codegen. Same
    * results as [[cosine]]; needs `graft_cosine` registered — the ANN
    * entry points register it on their session idempotently. */
  def cosineFast(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding self-matches by id). Query side broadcasts so the
    * corpus never shuffles; ranking is a k-bounded partial aggregation
    * ([[TopK.rankTopK]]) so the exchange carries O(|Q|·k·partitions) rows,
    * never the full |Q|·|C| scored set.
    *
    * Integral-id frames take the BLOCKED KERNEL ([[BlockedExact]]): the
    * same plan shape (unshuffled corpus scan, broadcast queries, k-bounded
    * exchange) but the |Q|·|C| scored pairs are never materialized as join
    * rows — a tiled mapPartitions GEMM with per-query bounded heaps,
    * bit-identical to the join + `graft_cosine` form (SimilaritySpec gates
    * the equality). Non-integral ids (string UUIDs etc.) keep the
    * join-scored path with surrogate ranking — and so do SIZE-ineligible
    * frames ([[BlockedExact.kernelEligible]]): a query matrix past the
    * driver-collect budget, or a corpus too small for the kernel's fixed
    * overhead to pay for itself, serves through the join path with
    * identical results (BlockedExactSpec pins both fallbacks).
    *
    * EAGER-EVALUATION NOTE (applies to every kernel-routed entry point in
    * this module): the route probes and the kernel's query collect run
    * Spark jobs at DataFrame-CONSTRUCTION time, so upstream errors and
    * their cost surface when the entry point is CALLED — the join path is
    * fully lazy. Callers that need laziness (speculative plan assembly)
    * should defer the call itself.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    if (BlockedExact.integral(queries, "vec_id") &&
        BlockedExact.integral(corpus, "vec_id") &&
        BlockedExact.kernelEligible(
          queries.select(col("embedding").as("qv")), corpus)) {
      val qIdType = queries.schema("vec_id").dataType
      val q = queries.select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      val c = corpus.select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("cv"))
      val partials = BlockedExact.topKPartials(q, c, k)
        .withColumn("q_id", col("q_id").cast(qIdType))
      TopK.rankTopK(partials, k)
    } else {
      val q = queries.select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
      val c = corpus.select(col("vec_id").as("c_id"), col("embedding").cast("array<double>").as("cv"))
      val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), cosineFast(col("qv"), col("cv")).as("cos"))
      TopK.rankTopK(scored, k, candidateIds = Some(c.select(col("c_id"))))
    }
  }

  /** [[cosineTopK]] with the ranking planned through the CUSTOM PLAN NODE
    * ([[graft.plans.GraftTopKPerKey]] → partial/final physical operators)
    * instead of the typed Aggregator: rows stay UnsafeRows end to end, at
    * most k rows per (query, partition) reach the one hash exchange, and
    * no posexplode/re-projection runs after the merge. Same result
    * contract as [[cosineTopK]] (rank 1-based, ties cos-desc then id-asc,
    * cos rounded to 6), and any id type works directly — the operator
    * never moves ids through an aggregation buffer, so there is no
    * integral restriction and no surrogate mapping.
    *
    * SCORING rides the same route ladder as [[cosineTopK]]: eligible
    * integral-id frames score through the blocked kernel (the plan node
    * is what this entry point demonstrates — the MERGE — not the |Q|·|C|
    * join-row materialization the kernel retired); everything else keeps
    * the broadcast-join + codegen-cosine form. Kernel partials are
    * per-partition top-k SUPERSETS under the plan node's exact order
    * (cos desc, c_id asc — total, since (q, c) pairs are unique), so the
    * node's partial/final merge over them equals its merge over the full
    * scored set bit for bit.
    */
  def cosineTopKNative(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val scored =
      if (BlockedExact.integral(queries, "vec_id") &&
          BlockedExact.integral(corpus, "vec_id") &&
          BlockedExact.kernelEligible(
            queries.select(col("embedding").as("qv")), corpus)) {
        val qIdType = queries.schema("vec_id").dataType
        val cIdType = corpus.schema("vec_id").dataType
        val q = queries.select(col("vec_id").cast("long").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
        val c = corpus.select(col("vec_id").cast("long").as("c_id"),
          col("embedding").cast("array<double>").as("cv"))
        BlockedExact.topKPartials(q, c, k)
          .withColumn("q_id", col("q_id").cast(qIdType))
          .withColumn("c_id", col("c_id").cast(cIdType))
      } else {
        val q = queries.select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
        val c = corpus.select(col("vec_id").as("c_id"), col("embedding").cast("array<double>").as("cv"))
        c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .select(col("q_id"), col("c_id"), cosineFast(col("qv"), col("cv")).as("cos"))
      }
    graft.plans.TopKPerKey.topKPerKey(scored,
        keyCols = Seq("q_id"), orderBy = Seq(("cos", false), ("c_id", true)), k = k)
      .select(col("q_id"), col("rank"), col("c_id"), round(col("cos"), 6).as("cos"))
  }

  /** HARD-NEGATIVE MINING for contrastive training: per query vector, the
    * k most similar corpus vectors carrying a DIFFERENT label — "close in
    * embedding space but semantically distinct", the pairs that sharpen a
    * retrieval/embedding model fastest (in-batch random negatives are
    * mostly too easy to carry gradient).
    *
    * Shape at scale: the label predicate rides INSIDE the broadcast-join
    * condition, so same-label candidates are dropped at the probe — they
    * never reach scoring or ranking; ranking planes through
    * [[graft.plans.TopKPerKey]], so at most k rows per (query, partition)
    * cross the one exchange. Same tie contract as [[cosineTopK]]
    * (cos desc, then id asc), cos rounded to 6.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val scored =
      if (BlockedExact.integral(queries, "vec_id", "label") &&
          BlockedExact.integral(corpus, "vec_id", "label") &&
          BlockedExact.kernelEligible(
            queries.select(col("embedding").as("qv")), corpus)) {
        // blocked kernel (see cosineTopK): the different-label predicate
        // runs inside the kernel, so same-label candidates never reach
        // the heap — the partials feed the same TopKPerKey merge.
        val qIdType = queries.schema("vec_id").dataType
        val cIdType = corpus.schema("vec_id").dataType
        val cLabelType = corpus.schema("label").dataType
        val q = queries.select(col("vec_id").cast("long").as("q_id"),
          col("label").cast("long").as("q_label"),
          col("embedding").cast("array<double>").as("qv"))
        val c = corpus.select(col("vec_id").cast("long").as("c_id"),
          col("label").cast("long").as("c_label"),
          col("embedding").cast("array<double>").as("cv"))
        BlockedExact.hardNegativePartials(q, c, k)
          .withColumn("q_id", col("q_id").cast(qIdType))
          .withColumn("c_id", col("c_id").cast(cIdType))
          .withColumn("c_label", col("c_label").cast(cLabelType))
      } else {
        val q = queries.select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").cast("array<double>").as("qv"))
        val c = corpus.select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("embedding").cast("array<double>").as("cv"))
        c.join(broadcast(q),
            col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
          .select(col("q_id"), col("c_id"), col("c_label"),
            cosineFast(col("qv"), col("cv")).as("cos"))
      }
    graft.plans.TopKPerKey.topKPerKey(scored,
        keyCols = Seq("q_id"), orderBy = Seq(("cos", false), ("c_id", true)), k = k)
      .select(col("q_id"), col("rank"), col("c_id"), col("c_label"),
        round(col("cos"), 6).as("cos"))
  }

  /** IVF-PQ with EXACT RE-RANKING — the standard production two-stage
    * retrieval: the compressed ADC index produces a `rerank`-deep
    * shortlist cheaply (no raw vectors touched), then ONLY those
    * |Q|·rerank pairs are scored with the exact cosine and the final
    * top-k re-ranks on true similarity. The raw corpus is read once,
    * unshuffled, in the second stage — the broadcast-sized shortlist
    * probes it — so the expensive exactness is paid on a candidate set
    * thousands of times smaller than the corpus. Recall approaches the
    * coarse-probe ceiling (`ann_recall_report` measures both stages).
    *
    * Convenience form: resolves the index through the build-once memo
    * ([[ivfPqIndexFor]]), so it shares the trained index with
    * [[ivfPqTopK]] at equal parameters instead of re-training it.
    */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      rerank: Int, nCentroids: Int = 16, nProbe: Int = 4,
      coarseIters: Int = 2, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 2): DataFrame =
    ivfPqRerankTopKIndexed(queries,
      ivfPqIndexFor(corpus, nCentroids, coarseIters, m, ksub, pqIters),
      k, rerank, nProbe)

  /** Exact re-rank over a BUILT index: ADC shortlist via
    * [[ivfPqTopKIndexed]], then only those |Q|·rerank pairs probe the raw
    * corpus once for exact cosines. */
  def ivfPqRerankTopKIndexed(queries: DataFrame, index: IvfPqIndex, k: Int,
      rerank: Int, nProbe: Int = 4): DataFrame = {
    require(rerank >= k, "the shortlist must be at least k deep")
    val shortlist = ivfPqTopKIndexed(queries, index, rerank, nProbe)
      .select(col("q_id"), col("c_id"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val scored = broadcast(shortlist.join(broadcast(q), Seq("q_id")))
      .join(index.corpus, Seq("c_id"))
      .select(col("q_id"), col("c_id"), cosineFast(col("qv"), col("cv")).as("cos"))
    TopK.rankTopK(scored, k, candidateIds = Some(index.corpus.select(col("c_id"))))
  }

  /** Random-hyperplane sign bucket: plane p's normal component for
    * dimension d is a deterministic pseudo-random ±value derived from
    * murmur3(d, p) — reproducible across runs with zero model state.
    * Bucket = integer of sign bits.
    */
  def hyperplaneBucket(v: Column, nPlanes: Int): Column =
    // native codegen form ([[graft.plans.HyperplaneBucket]]): memoized
    // weight matrix + one fused multiply-add loop. Callers register graft
    // functions on their session (the ANN entry points already do).
    call_function("graft_hyperplane", v, lit(nPlanes))

  /** Portable higher-order-function form (the pre-codegen formulation,
    * kept as the cross-check reference for CatalystSpec — bit-identical
    * to [[hyperplaneBucket]]). */
  def hyperplaneBucketHof(v: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, d) => x * (pmod(hash(d, lit(p)).cast("long"), lit(2001L)).cast("double") - 1000.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** IVF (inverted-file) ANN: k-means-lite centroids via DataFrame-only
    * Lloyd iterations (deterministically seeded by the nCentroids rows
    * smallest in `(murmur3(c_id), c_id)` order — hash order spreads seeds
    * uniformly over ANY id distribution, where the earlier every-stride-th
    * scheme collapsed to zero seeds on filtered corpora; see
    * [[trainCoarseCentroids]]), corpus assigned to its nearest centroid
    * once, queries probe only the `nProbe` nearest centroid lists. At
    * scale the corpus partitions by centroid id (the "inverted file"),
    * centroids broadcast, and a query touches nProbe/k of the data. All
    * arithmetic is higher-order-function column math — no UDFs, no MLlib.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame =
    ivfTopKIndexed(queries, ivfIndexFor(corpus, nCentroids, lloydIters), k, nProbe)

  /** BUILT IVF INDEX — coarse quantizer + inverted lists WITH the raw
    * vectors (IVF scores exact cosines inside the probed lists, so the
    * lists carry `cv`). Same build-once/serve-many artifact contract as
    * [[IvfPqIndex]]: members persist in the artifact tier, released only
    * by `GraftCaches.releaseArtifacts()`. */
  final case class IvfIndex(corpus: DataFrame, centroids: DataFrame,
      inverted: DataFrame)

  /** Train an IVF index over `corpus` (offline build job): coarse Lloyd
    * centroids, then the corpus assigned once into inverted lists.
    * Identical training math to the pre-split ivfTopK — the committed
    * ANN fixtures are unchanged. */
  def buildIvfIndex(corpus: DataFrame, nCentroids: Int = 16,
      lloydIters: Int = 2): IvfIndex = graft.GraftCaches.inArtifactScope {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val c = graft.GraftCaches.persistedArtifact(
      corpus.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv")))
    val centroids = trainCoarseCentroids(c, nCentroids, lloydIters)
    // serving-width cut, same rationale as buildIvfPqIndex's assigned:
    // the probed scan's parallelism is this cache's width
    val inverted = graft.GraftCaches.persistedArtifact(
      assignNearest(c, centroids).repartition(
        corpus.sparkSession.sessionState.conf.numShufflePartitions,
        col("c_id")))
    inverted.count(); c.count() // materialize inside the build
    IvfIndex(c, centroids, inverted)
  }

  /** Build-once memo over [[buildIvfIndex]] (same contract and keying as
    * [[ivfPqIndexFor]]): ann_ivf_topk and ann_ivf_topk_p8 differ only in
    * query-time nProbe, so they serve from ONE trained index. */
  private val ivfMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int, Int), IvfIndex]
  graft.GraftCaches.onArtifactRelease(() => ivfMemo.clear())

  def ivfIndexFor(corpus: DataFrame, nCentroids: Int = 16,
      lloydIters: Int = 2): IvfIndex = {
    val key = (System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash(), nCentroids, lloydIters)
    ivfMemo.getOrElseUpdate(key, buildIvfIndex(corpus, nCentroids, lloydIters))
  }

  /** IVF serving over a BUILT index: probe the trained coarse quantizer,
    * score exact cosines against only the probed inverted lists, rank
    * k-bounded. Plans zero training jobs. */
  def ivfTopKIndexed(queries: DataFrame, index: IvfIndex, k: Int,
      nProbe: Int = 4): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val probes = probeCentroids(q, index.centroids, nProbe)
    if (BlockedExact.integral(queries, "vec_id") &&
        BlockedExact.integral(index.inverted, "c_id") &&
        BlockedExact.kernelEligible(q.select(col("qv")), index.corpus)) {
      // probed kernel (BlockedExact.probedTopKPartials): the probe table
      // broadcasts as a cent→queries map — the same broadcast the join
      // hint shipped — and each UNSHUFFLED list member scores only
      // against the queries probing its list; no candidate join rows.
      // Bit-identical (SimilaritySpec / the oracle gates).
      val qIdType = queries.schema("vec_id").dataType
      val partials = BlockedExact.probedTopKPartials(
          probes.select(col("q_id").cast("long").as("q_id"),
            col("cent_id").cast("long").as("cent_id"), col("qv")),
          index.inverted.select(col("cent_id").cast("long").as("cent_id"),
            col("c_id").cast("long").as("c_id"), col("cv")),
          k)
        .withColumn("q_id", col("q_id").cast(qIdType))
      TopK.rankTopK(partials, k)
    } else {
      val scored = probes.join(index.inverted, Seq("cent_id"))
        .filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), cosineFast(col("qv"), col("cv")).as("cos"))
      TopK.rankTopK(scored, k, candidateIds = Some(index.corpus.select(col("c_id"))))
    }
  }

  /** RADIUS (range) SEARCH, exact tier: every corpus vector within
    * `cosine >= minCos` of each query — the retrieval shape for "all
    * near-duplicate candidates", where top-k's fixed k either truncates
    * dense neighborhoods or pads sparse ones. Unlike top-k, range search
    * needs NO global ranking: the threshold is a per-row predicate, so
    * the plan is scan → broadcast-join → filter with no window, no TopK
    * aggregation, and no exchange beyond the scan — the corpus never
    * shuffles and the surviving pair set is output-sized, not
    * |Q|·|C|-sized. Ties/ordering are the caller's concern (gates order
    * by (q_id, c_id)); `cos` is rounded to 6 like the top-k tiers.
    * Self-pairs are excluded inside the join condition so they never
    * reach scoring. */
  def cosineRange(queries: DataFrame, corpus: DataFrame,
      minCos: Double): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    if (BlockedExact.integral(queries, "vec_id") &&
        BlockedExact.integral(corpus, "vec_id") &&
        BlockedExact.kernelEligible(
          queries.select(col("embedding").as("qv")), corpus)) {
      // blocked kernel (see cosineTopK): the threshold runs inside the
      // kernel on the raw cosine, matches stream out output-sized.
      val qIdType = queries.schema("vec_id").dataType
      val cIdType = corpus.schema("vec_id").dataType
      val q = queries.select(col("vec_id").cast("long").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      val c = corpus.select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("cv"))
      BlockedExact.rangePartials(q, c, minCos)
        .select(col("q_id").cast(qIdType).as("q_id"),
          col("c_id").cast(cIdType).as("c_id"),
          round(col("cos"), 6).as("cos"))
    } else {
      val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      val c = corpus.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv"))
      c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          cosineFast(col("qv"), col("cv")).as("cos"))
        .filter(col("cos") >= lit(minCos))
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"))
    }
  }

  /** Range search over a BUILT IVF index (the scale tier): each query
    * scores exact cosines against only its `nProbe` probed inverted
    * lists, then the threshold filters. Plans zero training jobs and the
    * corpus-side lists never re-shuffle (the probe join is an equi-join
    * on `cent_id`).
    *
    * LOSSLESS AT FULL PROBE: the inverted lists PARTITION the corpus
    * (one nearest-centroid assignment per vector), so at
    * `nProbe = nCentroids` every (query, vector) pair is scored exactly
    * once and the result set equals [[cosineRange]] bit-for-bit — the
    * closed-form equivalence RangeSearchSpec gates. At partial probe the
    * result is a SUBSET of the exact set with identical `cos` values on
    * surviving pairs (same cast, same scorer): recall decays only by
    * un-probed lists, never by score drift. */
  def ivfRangeIndexed(queries: DataFrame, index: IvfIndex, minCos: Double,
      nProbe: Int = 4): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val probes = probeCentroids(q, index.centroids, nProbe)
    if (BlockedExact.integral(queries, "vec_id") &&
        BlockedExact.integral(index.inverted, "c_id") &&
        BlockedExact.kernelEligible(q.select(col("qv")), index.corpus)) {
      // probed kernel, radius form (see ivfTopKIndexed)
      val qIdType = queries.schema("vec_id").dataType
      val cIdType = index.inverted.schema("c_id").dataType
      BlockedExact.probedRangePairs(
          probes.select(col("q_id").cast("long").as("q_id"),
            col("cent_id").cast("long").as("cent_id"), col("qv")),
          index.inverted.select(col("cent_id").cast("long").as("cent_id"),
            col("c_id").cast("long").as("c_id"), col("cv")),
          minCos)
        .select(col("q_id").cast(qIdType).as("q_id"),
          col("c_id").cast(cIdType).as("c_id"),
          round(col("cos"), 6).as("cos"))
    } else {
      probes.join(index.inverted, Seq("cent_id"))
        .filter(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          cosineFast(col("qv"), col("cv")).as("cos"))
        .filter(col("cos") >= lit(minCos))
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"))
    }
  }

  /** Coarse-quantizer Lloyd training, shared by [[ivfTopK]] and
    * [[ivfPqTopK]]. Seeds are the nCentroids rows with the SMALLEST
    * `(murmur3(c_id), c_id)` — a deterministic pseudo-random sample:
    * orderBy+limit compiles to TakeOrdered (k = nCentroids rows cross the
    * exchange, deterministic under any partitioning — a bare limit()
    * takes whichever partitions answer first), and hash order spreads the
    * seeds uniformly over ANY id distribution. (The previous scheme —
    * every ⌊n/k⌋-th id — assumed contiguous ids and collapsed to ZERO
    * seeds on filtered corpora whose ids all miss the stride, e.g. a
    * `vec_id % 5 != 0` training subset with stride 25.) */
  private def trainCoarseCentroids(c: DataFrame, nCentroids: Int,
      lloydIters: Int): DataFrame = {
    // LAZY checkpoints (eager = false, like trainPqCodebook's): each
    // eager cut was its own driver job; lazy ones materialize inside the
    // first consumer's broadcast build — same truncation, two fewer
    // serial jobs per train (the fire-day rebuild runs this in-gate)
    var centroids = c
      .orderBy(pmod(hash(col("c_id")), lit(1000000007)).asc, col("c_id").asc)
      .limit(nCentroids)
      .select((row_number().over(Window.orderBy(col("c_id"))) - 1).as("cent_id"),
        col("cv").as("centroid"))
      .localCheckpointTracked(false)
    // Lloyd: assign to nearest centroid, recompute means (element-wise
    // aggregate over the vector column)
    for (_ <- 1 to lloydIters) {
      val assigned = assignNearest(c, centroids)
      // Per-dimension mean via posexplode: aggregation state is one double
      // per (centroid, dim) — never a collect_list of whole member vectors,
      // which at 100 TB would put millions of vectors in one buffer. The
      // reassembled array is bounded by the embedding dimensionality.
      centroids = assigned
        .select(col("cent_id"), posexplode(col("cv")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
        .select(col("cent_id"), col("dims.m").as("centroid"))
        .localCheckpointTracked(false)
    }
    centroids
  }

  /** Per-query nProbe nearest coarse centroids. A window is fine HERE:
    * the scored set is |Q|·nCentroids with nCentroids a small constant,
    * unlike corpus-sized rankings which use TopK.rankTopK. */
  /** Test hook: the probe-selection stage alone (BlockedExactSpec
    * reconstructs the join-scored serve against the kernel's). */
  private[graft] def probeCentroidsForTest(q: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = probeCentroids(q, centroids, nProbe)

  private def probeCentroids(q: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("cent_id").asc)
    q.join(broadcast(centroids), lit(true))
      .withColumn("dist", lit(1.0) - cosineFast(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("qv"), col("cent_id"))
  }

  /** Nearest-centroid assignment (centroids broadcast). A min-over-struct
    * aggregation (dist asc, cent_id asc tie-break) instead of a window:
    * partial aggregation collapses the |C|·nCentroids candidate rows
    * map-side, so only |C| rows reach the exchange.
    */
  private def assignNearest(c: DataFrame, centroids: DataFrame): DataFrame = {
    c.join(broadcast(centroids), lit(true))
      .withColumn("dist", lit(1.0) - cosineFast(col("cv"), col("centroid")))
      .groupBy(col("c_id"))
      .agg(min(struct(col("dist"), col("cent_id"))).as("best"),
        first(col("cv")).as("cv"))
      .select(col("best.cent_id").as("cent_id"), col("c_id"), col("cv"))
  }

  /** LSH-bucketed ANN top-k: queries only score against same-bucket corpus
    * vectors. Recall is tunable via nPlanes (fewer planes → bigger buckets).
    * The bucket equi-join shuffles by bucket id instead of broadcasting —
    * the right shape when the query set itself is huge.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 6): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qv"))
      .withColumn("bucket", hyperplaneBucket(col("qv"), nPlanes))
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").cast("array<double>").as("cv"))
      .withColumn("bucket", hyperplaneBucket(col("cv"), nPlanes))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosineFast(col("qv"), col("cv")).as("cos"))
    TopK.rankTopK(scored, k, candidateIds = Some(c.select(col("c_id"))))
  }

  /** INT8 SCALAR-QUANTIZATION ERROR PROFILE — the feasibility pass before
    * shipping a quantized index: per dimension, affine-quantize to 256
    * levels against the corpus per-dim range and report the
    * reconstruction error. The rounding is `floor(u + 0.5)` (explicit
    * half-up — engine-portable, unlike bankers'-rounding `round`);
    * constant dimensions quantize to themselves (zero error), never a
    * 0/0.
    *
    * Shape at scale: two corpus scans (one for per-dim ranges, one for
    * the error pass) — deliberately NOT a cached exploded stream, which
    * would pin dims× the corpus in memory; the 64-row range frame joins
    * back keyed on `dim`, which AQE broadcasts. Both aggregations
    * partial-combine map-side, so each exchange carries
    * O(dims · partitions).
    */
  def scalarQuantError(emb: DataFrame, vec: Column): DataFrame = {
    def exploded = emb.select(posexplode(vec.cast("array<double>")).as(Seq("__d0", "x")))
      .select((col("__d0") + 1).as("dim"), col("x"))
    val ranges = exploded.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val code = least(lit(255.0),
      floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5))
    val deq = when(col("mx") === col("mn"), col("x"))
      .otherwise(col("mn") + code * (col("mx") - col("mn")) / 255.0)
    exploded.join(ranges, "dim")
      .select(col("dim"), col("mn"), col("mx"), abs(col("x") - deq).as("err"))
      .groupBy(col("dim"))
      .agg(round(min(col("mn")), 6).as("dim_min"),
        round(min(col("mx")), 6).as("dim_max"),
        round(avg(col("err")), 6).as("avg_abs_err"),
        round(max(col("err")), 6).as("max_abs_err"))
  }

  /** PER-DIMENSION CORPUS STATISTICS over an embedding column — the
    * profiling pass feature-store/quantization work starts from (dead
    * dimensions, per-dim scale for scalar quantization, distribution drift
    * between corpus snapshots). Dimensions are 1-based.
    *
    * Shape at scale: `posexplode` fans each vector into (dim, value) rows
    * map-side; the aggregate partial-combines per partition, so the one
    * exchange carries O(dims · partitions) rows regardless of corpus size
    * — never the exploded stream. min/max are exact; mean/stddev round to
    * 6dp (partition-order float-sum jitter is ~1e-13 relative, far inside
    * the rounding).
    */
  def dimStats(emb: DataFrame, vec: Column): DataFrame =
    emb.select(posexplode(vec.cast("array<double>")).as(Seq("__d0", "x")))
      .select((col("__d0") + 1).as("dim"), col("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("x")), 6).as("mean_val"),
        round(stddev_pop(col("x")), 6).as("std_val"),
        min(col("x")).as("min_val"),
        max(col("x")).as("max_val"))

  /** FULL-WIDTH COVARIANCE/CORRELATION MATRIX in one pass — rides
    * [[graft.operators.GramAggregator]]: per partition ONE
    * `(n, Σxᵢ, Σxᵢxⱼ)` buffer (~17 KB at d=64) crosses the exchange, so
    * the cost is O(rows · d²) flops map-side and O(partitions · d²)
    * shuffle bytes — never the d²-per-vector row explosion of the
    * pair-join form (kept as `emb_covariance`'s d=8 cross-check). The d²
    * explode below runs on the SINGLE merged result row.
    *
    * Returns `(i, j, n_vecs, cov, corr)` for 1-based dims i ≤ j; corr is
    * NULL where a dimension has zero variance. cov rounds to 9dp, corr to
    * 6dp (partition-order Σ jitter ~1e-13 relative sits far inside both).
    */
  def covarianceMatrixGram(emb: DataFrame, vec: Column): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .as[Array[Double]]
      .select(new graft.operators.GramAggregator().toColumn)
      .toDF("g") // typed select flattens GramCells to its one field: the array
      .select(explode(col("g")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.n_vecs").as("n_vecs"),
        round(col("c.cov"), 9).as("cov"), round(col("c.corr"), 6).as("corr"))
  }

  // ------------------------------------------------------------ PQ
  /** Element-wise dot product as a sequential per-row fold (deterministic:
    * array order, one task). */
  private def dotp(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance — native codegen form ([[graft.plans.ArrayL2Squared]]:
    * one fused Java loop). Bit-identical to [[l2sqHof]] (same left-to-right
    * accumulation; CatalystSpec pins it), so the trained codebooks and the
    * committed PQ fixture are unchanged by the swap. */
  private def l2sq(a: Column, b: Column): Column =
    call_function("graft_l2sq", a, b)

  /** Portable HoF form (pre-codegen cross-check reference). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** PRODUCT-QUANTIZATION ANN top-k (PQ with asymmetric distance
    * computation — Jégou, Douze & Schmid, TPAMI 2011): the 100-TB-tier
    * compression path. Each vector splits into `m` subvectors; per
    * subspace a `ksub`-centroid codebook trains by Lloyd iterations; a
    * vector's code is its per-subspace nearest-centroid ids (m·log₂ksub
    * bits ≈ 4 bytes here vs 256 bytes of floats — the corpus held in RAM
    * shrinks 64×). Queries never decompress: a per-query distance TABLE
    * (query-subvector · centroid inner products) broadcasts, and each
    * corpus code sums m table lookups.
    *
    * Scale shape: all m subspaces train in ONE pipeline (subspace is a
    * key, not a loop — the corpus scans once per Lloyd iteration, not m
    * times); codebooks and distance tables are broadcast-sized
    * (m·ksub·dsub doubles); scoring is one equi-join of the code table
    * against the broadcast distance table plus a (q, c)-keyed partial
    * aggregation of exactly m rows per pair; ranking is the k-bounded
    * [[TopK.rankTopK]] aggregation. The corpus never shuffles.
    *
    * Determinism: seeding is the ksub smallest ids (TakeOrdered);
    * assignment ties break on centroid id; ADC table entries quantize to
    * integer nano-units before the per-pair sum, so the merged score is
    * exact 64-bit arithmetic whatever the partition merge order.
    *
    * With `lloydIters = 0` and `ksub ≥ |corpus|` every vector is its own
    * centroid and PQ degenerates to exact search — SimilaritySpec pins
    * that equivalence against [[cosineTopK]].
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, lloydIters: Int = 2): DataFrame =
    pqTopKIndexed(queries, pqIndexFor(corpus, m, ksub, lloydIters), k)

  /** BUILT PQ INDEX — per-subspace codebook + per-vector codes (the
    * compressed corpus) plus the keyed raw vectors for surrogate-id
    * candidate mapping. Artifact-tier, like [[IvfPqIndex]]. */
  final case class PqIndex(corpus: DataFrame, codebook: DataFrame,
      codes: DataFrame, m: Int)

  /** Train a PQ codebook + codes over `corpus` (offline build job) —
    * identical training math to the pre-split pqTopK, so the committed
    * PQ fixture is unchanged. */
  def buildPqIndex(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      lloydIters: Int = 2): PqIndex = graft.GraftCaches.inArtifactScope {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val c = graft.GraftCaches.persistedArtifact(
      corpus.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv")))
    // build-scoped: the per-subspace explosion feeds training and coding,
    // nothing serves from it afterwards — working tier, released by the
    // caller's next unpersistAll
    val csub = pqSubVectors(c, m).persistTracked()
    val codebook = trainPqCodebook(c, csub, ksub, lloydIters)
    val codes = graft.GraftCaches.persistedArtifact(
      assignNearestSub(csub, codebook)
        .select(col("c_id"), col("sub"), col("code")))
    codes.count(); c.count() // materialize inside the build
    // the serving pivot is construction cost (setup/query boundary —
    // see [[withServingPivot]]); shares the IVF-PQ pivot memo
    pivotedCodesFrame(codes).count()
    PqIndex(c, codebook, codes, m)
  }

  /** Build-once memo over [[buildPqIndex]] (contract of [[ivfPqIndexFor]]). */
  private val pqMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int, Int, Int), PqIndex]
  graft.GraftCaches.onArtifactRelease(() => pqMemo.clear())

  def pqIndexFor(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
      lloydIters: Int = 2): PqIndex = {
    val key = (System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash(), m, ksub, lloydIters)
    pqMemo.getOrElseUpdate(key, buildPqIndex(corpus, m, ksub, lloydIters))
  }

  /** PQ-ADC serving over a BUILT index: per-query broadcast distance
    * table, code equi-join, exact integer partial sums, k-bounded rank.
    * Plans zero training jobs. */
  def pqTopKIndexed(queries: DataFrame, index: PqIndex, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val qtabs = pqQueryTables(queries, index)
    // the size gate measures the RAW query vectors (the ADC tables are a
    // small constant factor — m·ksub·2 longs per query — of the same |Q|)
    if (BlockedExact.integral(queries, "vec_id") &&
        BlockedExact.integral(index.corpus, "c_id") &&
        BlockedExact.kernelEligible(
          queries.select(col("embedding").as("qv")), index.corpus)) {
      // ADC kernel (BlockedExact.adcTopKPartials): the per-query tables
      // broadcast as collected arrays — the same pivot aggregation the
      // join hint shipped — and both integer folds run in-loop over the
      // unshuffled pivoted-codes scan; exact 64-bit sums, bit-identical
      // cosine (BlockedExactSpec / the oracle gates).
      val qIdType = queries.schema("vec_id").dataType
      val partials = BlockedExact.adcTopKPartials(
          qtabs.select(col("q_id").cast("long").as("q_id"),
            col("ip_tab"), col("cn2_tab"), col("qnorm")),
          pivotedCodesFrame(index.codes)
            .select(col("c_id").cast("long").as("c_id"), col("codes")),
          k)
        .withColumn("q_id", col("q_id").cast(qIdType))
      TopK.rankTopK(partials, k)
    } else pqTopKIndexedJoinPath(qtabs, index, k)
  }

  /** The pivoted-projection join serve (the path non-integral ids take).
    * Test hook [[pqTopKIndexedJoinPathForTest]] forces it on integral
    * frames so BlockedExactSpec can pin kernel ≡ join on one index. */
  private def pqTopKIndexedJoinPath(qtabs: DataFrame, index: PqIndex,
      k: Int): DataFrame = {
    val scored = pivotedCodesFrame(index.codes)
      .join(broadcast(qtabs), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        expr("graft_adc_fold(codes, ip_tab)").as("ip_sum"),
        expr("graft_adc_fold(codes, cn2_tab)").as("cn2_sum"),
        col("qnorm"))
      .select(col("q_id"), col("c_id"), pqCos)
    TopK.rankTopK(scored, k, candidateIds = Some(index.corpus.select(col("c_id"))))
  }

  private[graft] def pqTopKIndexedJoinPathForTest(queries: DataFrame,
      index: PqIndex, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    pqTopKIndexedJoinPath(pqQueryTables(queries, index), index, k)
  }

  /** PIVOTED PQ-ADC query tables (same rewrite as [[ivfPqAdcScored]]):
    * the per-query distance tables fold to array[sub][code] lookups
    * (codebook cents are contiguous per sub, so a sorted collect is
    * positional). Integer sums reorder only: bit-identical cos, same
    * unrounded ranking input. */
  private def pqQueryTables(queries: DataFrame, index: PqIndex): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val dt = pqAdcTable(q, index.codebook, index.m)
    dt
      .groupBy(col("q_id"), col("dt_sub"))
      .agg(array_sort(collect_list(struct(col("dt_cent"), col("ip_e9")))).as("ips"),
        array_sort(collect_list(struct(col("dt_cent"), col("cn2_e9")))).as("cns"),
        first(col("qnorm")).as("qnorm"))
      .select(col("q_id"), col("dt_sub"),
        col("ips.ip_e9").as("ipArr"), col("cns.cn2_e9").as("cnArr"),
        col("qnorm"))
      .groupBy(col("q_id"))
      .agg(array_sort(collect_list(struct(col("dt_sub"), col("ipArr")))).as("ia"),
        array_sort(collect_list(struct(col("dt_sub"), col("cnArr")))).as("ca"),
        first(col("qnorm")).as("qnorm"))
      .select(col("q_id"), col("ia.ipArr").as("ip_tab"),
        col("ca.cnArr").as("cn2_tab"), col("qnorm"))
  }

  private def pqDsubOf(v: Column, m: Int) = floor(size(v) / m).cast("int")

  /** Per-subspace rows `(c_id, sub, sv)` of the corpus. */
  private def pqSubVectors(c: DataFrame, m: Int): DataFrame = {
    def subRows(v: Column) = explode(transform(sequence(lit(0), lit(m - 1)),
      j => struct(j.as("sub"),
        slice(v, j * pqDsubOf(v, m) + 1, pqDsubOf(v, m)).as("sv"))))
    c.select(col("c_id"), subRows(col("cv")).as("s"))
      .select(col("c_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
  }

  /** Per-subspace ksub-centroid codebook via Lloyd iterations. Seeds every
    * subspace from the ksub smallest ids (TakeOrdered — the deterministic-
    * seed rationale of ivfTopK). The k-row window is bounded by ksub. */
  private def trainPqCodebook(c: DataFrame, csub: DataFrame, ksub: Int,
      lloydIters: Int): DataFrame = {
    val seeds = c.select(col("c_id")).orderBy(col("c_id")).limit(ksub)
      .withColumn("cent",
        row_number().over(Window.orderBy(col("c_id"))).cast("int") - 1)
    var codebook = csub.join(broadcast(seeds), Seq("c_id"))
      .select(col("sub"), col("cent"), col("sv").as("centroid"))
      .localCheckpointTracked(false)
    for (_ <- 1 to lloydIters) {
      val assigned = assignNearestSub(csub, codebook)
      codebook = assigned
        .select(col("sub"), col("code").as("cent"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cent"), col("dim")).agg(avg(col("x")).as("mn"))
        .groupBy(col("sub"), col("cent"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mn")))).as("dims"))
        .select(col("sub"), col("cent"), col("dims.mn").as("centroid"))
        .localCheckpointTracked(false)
    }
    // RENUMBER cents contiguous per sub (dense_rank is ORDER-PRESERVING,
    // so nearest-codeword ties — broken on cent id — pick the same
    // codeword and every downstream result is bit-identical): a Lloyd
    // step may retire empty codewords, leaving id gaps, and the ADC
    // scorer's pivoted lookup tables index codewords POSITIONALLY — a
    // sorted collect per sub is a dense array only when ids are
    // contiguous. The window partitions by sub (ksub-bounded), the shape
    // the plan audit allows.
    codebook
      .withColumn("cent", (dense_rank().over(
        Window.partitionBy(col("sub")).orderBy(col("cent"))) - 1).cast("int"))
      .localCheckpointTracked(false)
  }

  /** Per-query ADC table: inner products + centroid norm² per (sub, cent),
    * quantized to integer nano-units (exact, associative per-pair sums).
    * qnorm rides the broadcast table (constant per q_id, first() in the
    * pair aggregation) — a separate qnorm frame would cost one more
    * broadcast join. */
  private def pqAdcTable(q: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    q.join(broadcast(codebook), lit(true))
      .select(col("q_id"), sqrt(dotp(col("qv"), col("qv"))).as("qnorm"),
        col("sub").as("dt_sub"), col("cent").as("dt_cent"),
        round(dotp(slice(col("qv"), col("sub") * pqDsubOf(col("qv"), m) + 1,
          pqDsubOf(col("qv"), m)), col("centroid")) * 1e9).cast("long").as("ip_e9"),
        round(dotp(col("centroid"), col("centroid")) * 1e9).cast("long").as("cn2_e9"))

  /** ADC cosine from the exact integer partial sums (shared final step of
    * [[pqTopK]] and [[ivfPqTopK]]). */
  private def pqCos: Column =
    when(col("cn2_sum") > 0 && col("qnorm") > 0,
      (col("ip_sum").cast("double") / 1e9)
        / (col("qnorm") * sqrt(col("cn2_sum").cast("double") / 1e9)))
      .otherwise(lit(0.0)).as("cos")

  /** IVF-PQ (IVFADC — Jégou, Douze & Schmid, TPAMI 2011 §IV): the
    * billion-scale composition, with RESIDUAL coding as the paper
    * specifies. The coarse quantizer restricts each query to its nProbe
    * inverted lists, and PQ codes the residual `r = v − centroid(v)` —
    * residuals concentrate around the origin, so the same ksub codebook
    * budget quantizes far more finely than coding raw vectors (the
    * recall gain is measured by `ann_recall_report`). Neither stage
    * touches the full |Q|×|C| pair space: candidates are
    * `|Q| · nProbe/nCentroids` of the corpus on average, and each costs m
    * integer table lookups instead of a d-dimensional float dot product.
    *
    * Scoring decomposes exactly (c = u + r with u the coarse centroid,
    * r the codeword reconstruction):
    *   dot(q, c)  = dot(q, u) + Σ_sub dot(q_sub, r_sub)
    *   ‖c‖²       = ‖u‖² + 2·Σ_sub dot(u_sub, r_sub) + Σ_sub ‖r_sub‖²
    * so the per-query table carries dot(q_sub, codeword) per (sub, code),
    * the probe frame carries dot(q, u) and ‖u‖² per (q, cent), and a
    * QUERY-INDEPENDENT table carries the centroid-codeword cross terms
    * per (cent, sub, code) — all broadcast-sized, every term quantized to
    * integer nano-units so the partial sums are exact whatever the merge
    * order. Scale shape: coarse training/assignment scans the corpus
    * O(iters) times with broadcast centroids; candidate generation is one
    * equi-join on `cent_id`; scoring joins codes to the two broadcast
    * tables and partial-aggregates exactly m rows per surviving pair;
    * ranking is the k-bounded [[TopK.rankTopK]] aggregation. The corpus
    * never shuffles — only (q, candidate) partials cross an exchange.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, coarseIters: Int = 2,
      m: Int = 8, ksub: Int = 16, pqIters: Int = 2): DataFrame =
    ivfPqTopKIndexed(queries,
      ivfPqIndexFor(corpus, nCentroids, coarseIters, m, ksub, pqIters),
      k, nProbe)

  /** BUILT IVF-PQ INDEX — the shared, persisted artifact the two-stage ANN
    * family serves from. Production retrieval builds an index ONCE in an
    * offline job and answers many queries against it; the original query
    * shape re-trained the full index inside every call (so topK + rerank
    * together trained the identical index twice — the two heaviest
    * queries in the bench). All member frames are eagerly materialized
    * and artifact-persisted ([[graft.GraftCaches.persistedArtifact]]):
    * per-query `unpersistAll` leaves them cached; sessions release them
    * with `GraftCaches.releaseArtifacts()`.
    *
    *  - `corpus`     (c_id, cv): keyed raw vectors — the exact tier
    *  - `centroids`  (cent_id, centroid): coarse quantizer
    *  - `assigned`   (cent_id, c_id): inverted lists
    *  - `codebook`   (sub, cent, centroid): residual PQ codebook
    *  - `codes`      (c_id, sub, code): PQ codes (the compressed corpus)
    *  - `crossTerms` (ut_cent_id, ut_sub, ut_cent, ur2rn2_e9): the
    *    query-independent centroid×codeword table of the ADC expansion
    */
  /** `rows`: the corpus count rolled forward as a monotone counter so
    * per-batch policy checks (rebuild geometry) read a field instead of
    * re-counting the standing corpus every trigger; None when an
    * operation cannot derive it cheaply. `chain`: with delta appends, the
    * cached frames this generation's lazy unions read (base standalone
    * corpus/assigned/codes + serving pivot + every batch delta) —
    * released as one unit when a policy cuts a standalone generation
    * ([[graft.GraftCaches.GenChain]]); empty ⟺ members are standalone.
    * The tiny trained frames (centroids, codebook, crossTerms) never ride
    * the chain: they are shared across appends by construction and their
    * size is geometry-bounded, not corpus-bounded. */
  final case class IvfPqIndex(corpus: DataFrame, centroids: DataFrame,
      assigned: DataFrame, codebook: DataFrame, codes: DataFrame,
      crossTerms: DataFrame, m: Int,
      rows: Option[Long] = None,
      chain: graft.GraftCaches.GenChain = graft.GraftCaches.GenChain(),
      listSizes: Option[Map[Int, Long]] = None) {
    private[graft] def corpusRows: Long = rows.getOrElse(corpus.count())
  }

  /** Train an IVF-PQ index over `corpus` (the offline build job): coarse
    * Lloyd centroids + inverted lists, then a residual PQ codebook and
    * per-vector codes (same math as before the split — committed ANN
    * fixtures are unchanged). Member frames persist in the ARTIFACT tier
    * and are counted/materialized here, so queries serve from cache and
    * plan no training jobs. */
  def buildIvfPqIndex(corpus: DataFrame, nCentroids: Int = 16,
      coarseIters: Int = 2, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 2): IvfPqIndex =
    buildIvfPqIndex(corpus, nCentroids, coarseIters, m, ksub, pqIters, None)

  /** [[buildIvfPqIndex]] with an optional TRAINING SAMPLE predicate over
    * `c_id`: when set, ONLY rows satisfying it feed the coarse-centroid
    * and PQ-codebook Lloyd iterations — assignment and coding still cover
    * the full corpus. This is how a 100-TB build bounds training cost:
    * k-means needs only O(10²) vectors per centroid to converge (FAISS
    * trains on a capped sample by default), so the quantizers train on a
    * deterministic hash-sampled slice while the linear-cost
    * assignment/coding pass — the part that MUST see every vector — scans
    * the corpus exactly once. `trainSample = None` reproduces the
    * full-corpus training bit for bit (the committed gate fixtures). */
  def buildIvfPqIndex(corpus: DataFrame, nCentroids: Int,
      coarseIters: Int, m: Int, ksub: Int,
      pqIters: Int, trainSample: Option[Column]): IvfPqIndex =
      graft.GraftCaches.inArtifactScope {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val c = graft.GraftCaches.persistedArtifact(
      corpus.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv")))
    val cTrain = trainSample.map(c.filter).getOrElse(c)
    val centroids = trainCoarseCentroids(cTrain, nCentroids, coarseIters)
    // build-scoped: (cent_id, c_id, cv) feeds both the inverted lists and
    // the residuals; only the vector-free list persists beyond the build
    val assignedFull = assignNearest(c, centroids).persistTracked()
    // SERVING-WIDTH CUT (guide §2.2/§2.5): the inverted-list frame is the
    // scan side of every query's candidate expansion (assigned ⋈
    // broadcast(probes) — deliberately exchange-free, see ivfPqAdcScored),
    // so serving parallelism IS this cache's partition count. Without the
    // explicit repartition the width is whatever AQE left on the build's
    // last groupBy — at small inputs ONE coalesced partition, which
    // serializes the expansion+ADC stage whose OUTPUT is orders of
    // magnitude bigger than its input (measured: 2.7 s single-task stage
    // in ann_auto_topk_fixedq at sf0.1). Width derives from the session's
    // shuffle parallelism — the same "natural width" notion
    // compactIvfPqIndex maintains — not from a local constant. Integer
    // content only; row placement is result-irrelevant (suite-wide
    // partition-independence invariant).
    // sorted within partitions on the cut key: the serve's lists⋈pivot
    // c_id join (see ivfPqAdcScored) then reads both caches' ordering and
    // plans no sort — the sort is paid once at build, not per serve
    val assigned = graft.GraftCaches.persistedArtifact(
      assignedFull.select(col("cent_id"), col("c_id"))
        .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions,
          col("c_id"))
        .sortWithinPartitions(col("c_id")))
    // PQ stage on RESIDUALS: rv = cv − centroid(cent_id)
    val resid = assignedFull.join(broadcast(centroids), Seq("cent_id"))
      .select(col("c_id"),
        zip_with(col("cv"), col("centroid"), (a, b) => a - b).as("cv"))
    val csub = pqSubVectors(resid, m).persistTracked()
    // codebook seeds draw from the SAMPLED ids so every seed row exists in
    // the sampled per-subspace stream (a seed outside the sample would
    // silently drop a codebook entry)
    val codebook = trainPqCodebook(cTrain,
      trainSample.map(csub.filter).getOrElse(csub), ksub, pqIters)
    val codes = graft.GraftCaches.persistedArtifact(
      assignNearestSub(csub, codebook)
        .select(col("c_id"), col("sub"), col("code")))
    // query-independent cross-term table: 2·dot(u_sub, codeword) + ‖codeword‖²
    // per (coarse cent, sub, code) — nCentroids·m·ksub rows, checkpointed so
    // queries read it instead of re-deriving it
    val crossTerms = crossTermRows(centroids, codebook, m)
      .localCheckpointTracked()
    // materialize the artifact INSIDE the build (count forces the cache),
    // so query wall-time measures serving, not deferred training.
    // codes.count() fills the shared lazy parents (assignedFull → csub →
    // codes, and c underneath); assigned.count() then cuts the serving
    // width from the filled assignedFull. The REMAINING materializations
    // (corpus count, list-size collect, the two serving lookup pivots)
    // are independent reads of already-filled caches — run them as
    // concurrent jobs (guide §2.6 "overlap independent jobs") instead of
    // four serial driver actions.
    codes.count(); assigned.count()
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fN = Future(c.count())
      val fLs = Future(listSizesOf(assigned))
      val fPivot = Future(pivotedCodesFrame(codes).count())
      val fUtab = Future(pivotedCrossTerms(crossTerms).count())
      val n = Await.result(fN, Duration.Inf)
      val ls = Await.result(fLs, Duration.Inf)
      Await.result(fPivot, Duration.Inf); Await.result(fUtab, Duration.Inf)
      // fPivot/fUtab ARE withServingPivot's fills (same memo entries) —
      // the index is construction-complete without re-counting them
      IvfPqIndex(c, centroids, assigned, codebook, codes, crossTerms, m,
        rows = Some(n), listSizes = Some(ls))
    }
  }

  /** Per-centroid member counts of an assignment frame, collected to a
    * driver map — geometry-bounded output (≈√N entries at [[autoGeometry]]
    * — ~3·10⁴ at 10⁹ vectors), so the collect is a few hundred KB at any
    * corpus scale. Build/append roll this forward as the index's
    * `listSizes` so the rebuild policy's IMBALANCE check reads driver
    * state instead of re-aggregating the corpus-sized inverted lists
    * every micro-batch. */
  private def listSizesOf(assigned: DataFrame): Map[Int, Long] =
    assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def mergeListSizes(base: Option[Map[Int, Long]],
      delta: Map[Int, Long]): Option[Map[Int, Long]] =
    base.map(b => delta.foldLeft(b) { case (m, (k, v)) =>
      m.updated(k, m.getOrElse(k, 0L) + v) })

  /** Materialize the scorer's pivoted-codes artifact WITH the index:
    * the pivot is construction cost, not first-serve cost — the
    * setup/query boundary (SetupBoundarySpec) counts artifact persists
    * at serving time, and a lazily-built pivot would charge a corpus
    * groupBy to whichever query serves the generation first. Every path
    * that mints a NEW codes frame (build, load, append, remove, compact,
    * warm grow/shrink) returns through here. */
  private def withServingPivot(ix: IvfPqIndex): IvfPqIndex = {
    // the two serving lookup artifacts are independent cache fills over
    // already-materialized member frames — overlap them (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fills = Seq(
      Future(pivotedCodes(ix).count()),
      Future(pivotedCrossTerms(ix.crossTerms).count()))
    fills.foreach(Await.result(_, Duration.Inf))
    ix
  }

  /** The ADC cross-term rows for a set of coarse centroids against a
    * codebook — factored so the build and the WARM rebuild produce
    * bit-identical arithmetic (the warm path recomputes rows only for
    * the centroids it created). */
  private def crossTermRows(centroids: DataFrame, codebook: DataFrame,
      m: Int): DataFrame =
    centroids
      .join(broadcast(codebook.withColumnRenamed("centroid", "codeword")), lit(true))
      .select(col("cent_id").as("ut_cent_id"), col("sub").as("ut_sub"),
        col("cent").as("ut_cent"),
        (round(dotp(slice(col("centroid"), col("sub") * pqDsubOf(col("centroid"), m) + 1,
          pqDsubOf(col("centroid"), m)), col("codeword")) * 1e9).cast("long") * 2
          + round(dotp(col("codeword"), col("codeword")) * 1e9).cast("long"))
          .as("ur2rn2_e9"))

  /** PERSIST a built IVF-PQ index to parquet — the production artifact
    * lifecycle: the offline build job writes the index once; any number
    * of serving jobs (other sessions, other clusters) [[loadIvfPqIndex]]
    * it without retraining. Six member directories plus a one-row meta
    * table (m). Serving from a saved-then-loaded index is EXACTLY the
    * in-memory serving (integer-quantized ADC terms and id tie-breaks
    * make the ranking independent of storage partitioning) — the
    * `ann_index_roundtrip` gate pins loaded-serving equal to the
    * committed `ann_ivfpq_topk` fixture. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.corpus.sparkSession
    index.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
    index.codebook.write.mode("overwrite").parquet(s"$path/codebook")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    index.crossTerms.write.mode("overwrite").parquet(s"$path/cross_terms")
    spark.range(1).select(lit(index.m).as("m"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveIvfPqIndex]]'d index for serving: all members persist
    * in the artifact tier and materialize here, so queries plan no
    * training jobs and no repeated parquet scans of the index. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex =
    graft.GraftCaches.inArtifactScope {
      graft.plans.GraftFunctions.register(spark)
      def part(n: String) = graft.GraftCaches.persistedArtifact(
        spark.read.parquet(s"$path/$n"))
      // assigned re-cut to serving width on load: a saved index's members
      // read back at file-packing width (ONE partition for a small index),
      // and the candidate expansion runs map-side over exactly this
      // cache's partitioning — same rationale as the build-time cut
      def partWide(n: String) = graft.GraftCaches.persistedArtifact(
        spark.read.parquet(s"$path/$n").repartition(
          spark.sessionState.conf.numShufflePartitions, col("c_id"))
          .sortWithinPartitions(col("c_id")))
      val m = spark.read.parquet(s"$path/meta").head().getInt(0)
      val base = IvfPqIndex(part("corpus"), part("centroids"), partWide("assigned"),
        part("codebook"), part("codes"), part("cross_terms"), m)
      base.codes.count(); base.assigned.count()
      val n = base.corpus.count()
      base.centroids.count(); base.codebook.count(); base.crossTerms.count()
      withServingPivot(base.copy(rows = Some(n)))
    }

  /** INCREMENTAL APPEND — grow a built index without retraining: new
    * vectors are assigned to the EXISTING coarse centroids and their
    * residuals coded with the EXISTING codebook. Quantizers (and
    * therefore the cross-term table and every already-coded vector) are
    * untouched — the standard production freshness path (FAISS `add`
    * semantics): a corpus that grows daily pays assignment+coding per
    * batch, never a rebuild. Recall for appended vectors matches
    * build-time coding EXACTLY when the quantizers are fixed, because
    * append runs the identical assignment/coding pipeline the build runs
    * after training (`SimilaritySpec` pins: build(old) + append(new) ≡
    * coding new through build's own stages; the `ann_index_append` gate
    * pins the served ranking end-to-end). Rebuild when drift accumulates
    * ([[ivfPqRebuildIfStale]]).
    *
    * The grown index is a DELTA generation: only the BATCH's frames
    * materialize (artifact-tier: vectors, assignments, codes, and the
    * delta's own serving pivot — all batch-sized), the members are LAZY
    * UNIONS over the old generation's caches, and the serving-pivot memo
    * is seeded with `old pivot ∪ delta pivot` — valid because appended
    * ids are fresh, so no c_id group straddles the union.
    *
    * LIFECYCLE (see [[Dedup.dedupIndexAppend]]): generations share
    * cached frames — do NOT release a superseded handle after the roll;
    * chains release when a rebuild/compaction/remove cuts standalone
    * frames or with the artifact tier. Union depth grows one per append
    * until the compaction policy fires. */
  def ivfPqIndexAppend(index: IvfPqIndex, newVectors: DataFrame): IvfPqIndex =
    graft.GraftCaches.inArtifactScope {
      graft.plans.GraftFunctions.register(index.corpus.sparkSession)
      val ncRaw = newVectors.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv"))
      // delta members persist LINEAGE-BEARING in the artifact tier
      // (persistedArtifactFresh): batch-sized persist cost, and a lost
      // block recomputes through the caller's newVectors plan where the
      // previous localCheckpoint form failed unrecoverably. Durability of
      // that recompute is the durability of newVectors' own lineage —
      // the streaming front door hands a parquet-backed frame here.
      val nc = graft.GraftCaches.persistedArtifactFresh(ncRaw)
      // id hygiene: c_id is the KEY of codes/assigned, so a duplicate id
      // (within the batch or against the index) would sum both copies'
      // ADC terms into one corrupted cosine; fresh ids are also what
      // makes the pivot union below exact. An update is remove + append.
      // ONE batch pass fills nc and yields its size and the intra-batch
      // duplicate count: sum of per-id counts = batch rows, any count > 1
      // = a duplicate
      val st = nc.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("bn"),
          coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L)).as("dups"))
        .head()
      val bn = st.getLong(0)
      require(st.getLong(1) == 0L,
        s"ivfPqIndexAppend: ${st.getLong(1)} vec_id(s) appear more than once " +
          "in the append batch — dedup the batch first")
      // id-clash probe against the vector-free inverted lists: same id
      // set as the corpus, ~30× fewer bytes scanned per append at 100 TB
      val clashes = nc.select(col("c_id"))
        .join(index.assigned.select(col("c_id")), Seq("c_id")).count()
      require(clashes == 0L,
        s"ivfPqIndexAppend: $clashes appended vec_id(s) already exist " +
          "in the index — appends must carry fresh ids")
      val assignedDelta = graft.GraftCaches.persistedArtifactFresh(
        assignNearest(nc, index.centroids))
      val resid = assignedDelta.join(broadcast(index.centroids), Seq("cent_id"))
        .select(col("c_id"),
          zip_with(col("cv"), col("centroid"), (a, b) => a - b).as("cv"))
      val codesDelta = graft.GraftCaches.persistedArtifactFresh(
        assignNearestSub(pqSubVectors(resid, index.m), index.codebook)
          .select(col("c_id"), col("sub"), col("code")))
      val corpus = index.corpus.unionByName(nc)
      val assigned = index.assigned
        .unionByName(assignedDelta.select(col("cent_id"), col("c_id")))
      val codes = index.codes.unionByName(codesDelta)
      // serving pivot for the new generation: old generation's memoized
      // pivot ∪ the delta's own pivot (batch-sized groupBy) — never a
      // full-code-table re-aggregation
      val basePivot = pivotedCodesFrame(index.codes)
      val deltaPivot = graft.GraftCaches.persistedArtifactFresh(
        codesDelta.groupBy(col("c_id"))
          .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
          .select(col("c_id"), col("sc.code").as("codes")))
      // one job fills the delta chain: the pivot reads codesDelta, which
      // reads assignedDelta — each cache fills on its first scan
      deltaPivot.count()
      codesPivotMemo.put(codesPivotKey(codes),
        basePivot.unionByName(deltaPivot))
      val base =
        if (index.chain.nonEmpty) index.chain
        else graft.GraftCaches.GenChain(
          Seq(index.corpus, index.assigned, index.codes, basePivot))
      IvfPqIndex(corpus, index.centroids, assigned, index.codebook, codes,
        index.crossTerms, index.m,
        // rows roll forward (fresh ids); one count when the handle lost it
        rows = Some(index.rows.fold(corpus.count())(_ + bn)),
        chain = base ++ Seq(nc, assignedDelta, codesDelta, deltaPivot),
        listSizes = mergeListSizes(index.listSizes,
          listSizesOf(assignedDelta.select(col("cent_id"), col("c_id")))))
    }

  /** RETENTION DELETE — shrink a built index without retraining (FAISS
    * `remove_ids` semantics, the missing half of the freshness story:
    * appends grow a standing index daily, but right-to-be-forgotten /
    * license-revocation events must REMOVE vectors on the same index
    * without a corpus-sized rebuild). The keyed frames (corpus, inverted
    * lists, codes) anti-join the removal set; quantizers, codebook and
    * the cross-term table are untouched — removal never changes how any
    * REMAINING vector is assigned or coded, so serving from the shrunk
    * index is EXACTLY serving the remaining corpus through the same
    * quantizers (the `ann_index_remove` gate pins the ranking; the
    * remove∘append-back identity gives `ann_index_update` its
    * closed-form oracle against the committed full-build fixture).
    * Ids absent from the index are ignored (idempotent deletes — the
    * production tombstone stream replays). The anti-join broadcasts the
    * removal set: deletion events are batch-sized, the index is the
    * 100-TB side, and each member frame is one scan with no shuffle.
    * `removeIds` carries a `vec_id` column (the append-side key name).
    *
    * The shrunk frames are standalone copies (empty chain): once they
    * materialize, the caller releases the superseded generation and its
    * chain ([[graft.streaming.RetentionServing]]). An UPDATE is remove +
    * append of the new
    * vector under the same id — the `ann_index_update` gate runs that
    * composition end-to-end. */
  def ivfPqIndexRemove(index: IvfPqIndex, removeIds: DataFrame): IvfPqIndex =
    graft.GraftCaches.inArtifactScope {
      val rm = broadcast(
        removeIds.select(col("vec_id").as("c_id")).distinct())
      val corpus = graft.GraftCaches.persistedArtifact(
        index.corpus.join(rm, Seq("c_id"), "left_anti"))
      val assigned = graft.GraftCaches.persistedArtifact(
        index.assigned.join(rm, Seq("c_id"), "left_anti"))
      val codes = graft.GraftCaches.persistedArtifact(
        index.codes.join(rm, Seq("c_id"), "left_anti"))
      // one count (rows is load-bearing for the rebuild policy); the
      // codes/assigned caches fill on their first serve scan instead of
      // paying two more standing-sized passes here (guide §1.2)
      val n = corpus.count()
      // SERVING-PIVOT SEED: the pivot is keyed by c_id, so anti-joining
      // the CACHED base pivot is row-identical to re-aggregating the
      // anti-joined code table — O(standing) groupBy → one broadcast
      // anti-join over an already-cached frame
      val pivot = graft.GraftCaches.persistedArtifact(
        pivotedCodesFrame(index.codes).join(rm, Seq("c_id"), "left_anti"))
      codesPivotMemo.put(codesPivotKey(codes), pivot)
      withServingPivot(
        IvfPqIndex(corpus, index.centroids, assigned, index.codebook, codes,
          index.crossTerms, index.m, rows = Some(n)))
    }

  /** COMPACTION — re-materialize the growing member frames at their
    * natural partitioning. Every [[ivfPqIndexAppend]] unions a batch into
    * corpus/assigned/codes, and a union CONCATENATES partitions: after k
    * daily appends each serving scan schedules k× the tasks (most of
    * them batch-sized slivers) and drags a k-deep union lineage through
    * Catalyst analysis, independent of data size — the LSM-tree
    * fragmentation problem, solved the same way (periodic merge).
    * [[ivfPqIndexRemove]] adds the mirror image: anti-joined frames keep
    * their partition COUNT while shrinking, so a churned index pays
    * full-width scheduling over mostly-empty partitions.
    *
    * Compaction hash-repartitions each keyed frame on `c_id` to the
    * session shuffle parallelism (or an explicit target) and cuts the
    * lineage at the fresh artifact boundary. Row content is untouched,
    * and serving is partition-independent by the suite-wide invariant
    * (integer ADC terms, id tie-breaks), so compacted-serving ≡
    * uncompacted-serving exactly — the `ann_index_compact` gate reuses
    * the committed append fixture as its oracle. Run it on the standing
    * index every k appends/removes (k ~ 10 keeps scheduling width within
    * 2× of natural; the right cadence is an ops dial, not a constant). */
  def compactIvfPqIndex(index: IvfPqIndex,
      partitions: Option[Int] = None,
      durableRoot: Option[String] = None): IvfPqIndex =
    graft.GraftCaches.inArtifactScope {
      val n = partitions.getOrElse(
        index.corpus.sparkSession.sessionState.conf.numShufflePartitions)
      // durableRoot: the streaming parquet cut (see
      // [[graft.functions.Dedup.compactDedupIndex]]) — the ANN members
      // especially need it, their delta lineage roots are the pruned
      // survivor epochs
      // assigned and the pivot additionally sort on the cut key so the
      // serve's lists⋈pivot join reads cached ordering (localCheckpoint
      // preserves partitioning+ordering; the durable parquet root cannot,
      // and streaming serving re-sorts — the documented trade)
      def compacted(df: DataFrame, name: String,
          sorted: Boolean = false): DataFrame = {
        val cut0 = df.repartition(n, col("c_id"))
        val cut = if (sorted) cut0.sortWithinPartitions(col("c_id")) else cut0
        durableRoot match {
          case Some(root) => graft.GraftCaches.durableCut(cut, s"$root/$name")
          case None => graft.GraftCaches.checkpointed(cut)
        }
      }
      val corpus = compacted(index.corpus, "corpus")
      val assigned = compacted(index.assigned, "assigned", sorted = true)
      val codes = compacted(index.codes, "codes")
      // SERVING-PIVOT CUT: compaction leaves row content untouched, so the
      // new generation's pivot is the OLD pivot re-cut at the target width
      // — never a re-aggregation of the corpus-sized code table. Cut like
      // the members (checkpoint / durable root) so the superseded chain
      // can release without stranding the pivot's lineage.
      val pivot = durableRoot match {
        case Some(root) => graft.GraftCaches.durableCut(
          pivotedCodesFrame(index.codes).repartition(n, col("c_id"))
            .sortWithinPartitions(col("c_id")),
          s"$root/pivot")
        case None => graft.GraftCaches.checkpointed(
          pivotedCodesFrame(index.codes).repartition(n, col("c_id"))
            .sortWithinPartitions(col("c_id")))
      }
      codesPivotMemo.put(codesPivotKey(codes), pivot)
      // content untouched ⇒ rows carry over; standalone cut ⇒ chain resets
      withServingPivot(
        IvfPqIndex(corpus, index.centroids, assigned, index.codebook, codes,
          index.crossTerms, index.m, rows = index.rows,
          listSizes = index.listSizes))
    }

  /** COMPACTION POLICY — the detector→actuator loop for
    * [[compactIvfPqIndex]], completing the round's pattern (every ops
    * dial derived, not pinned: [[autoGeometry]] for centroids,
    * [[ivfPqRebuildIfStale]] for retraining, this for the merge cadence).
    * "Every k appends" is the wrong trigger at 100 TB — batch sizes vary
    * wildly, and what serving actually pays for is SCHEDULING WIDTH, so
    * the detector reads the symptom directly. Two arms, both free of
    * corpus-sized work:
    *
    *  - WIDTH (append fragmentation): the widest keyed frame exceeds
    *    `maxPartitions` (defaulting to `widthFactor`× the session shuffle
    *    parallelism — the width a fresh shuffle-built index would have).
    *    Unions concatenate partitions, so k appends schedule k× the
    *    tasks per serving scan regardless of data size. Planner-side
    *    read (`rdd.getNumPartitions`), job-free only while the member
    *    caches are filled: under AQE it plans table-cache stages, and an
    *    emptied cache (e.g. one a file write's `recacheByPath` dropped)
    *    is re-filled by this read — a corpus-sized recompute.
    *  - EMPTINESS (remove churn, opt-in via `minRowsPerPartition` > 0):
    *    anti-joins shrink rows but keep partition COUNT, so a
    *    heavily-tombstoned index pays full scheduling width over
    *    mostly-empty partitions. Fires when corpus rows fall below
    *    `width · minRowsPerPartition` — one `count()` on an
    *    already-persisted artifact frame.
    *
    * When neither fires the index passes through untouched (zero-cost
    * no-op — the per-trigger call in the retention stream relies on
    * this). When either fires, [[compactIvfPqIndex]] re-materializes at
    * natural width; serving is partition-independent, so the
    * `ann_compact_policy` gate pins policy-fired serving against the
    * committed append fixture (k sub-appends are content-identical to
    * one append — per-vector assignment and coding are per-row). */
  def compactIvfPqIndexIfFragmented(index: IvfPqIndex,
      maxPartitions: Option[Int] = None, widthFactor: Double = 4.0,
      minRowsPerPartition: Long = 0L,
      durableRoot: Option[String] = None): (IvfPqIndex, Boolean) = {
    val natural =
      index.corpus.sparkSession.sessionState.conf.numShufflePartitions
    val bound = maxPartitions.getOrElse(math.ceil(widthFactor * natural).toInt)
    val width = Seq(index.corpus, index.assigned, index.codes)
      .map(_.rdd.getNumPartitions).max
    // shared convergent target arithmetic — see [[Dedup.CompactionPolicy]]:
    // width-arm lands inside the bound; emptiness-arm sizes from rows
    CompactionPolicy.target(width, natural, bound,
        index.corpus.count(), minRowsPerPartition) match {
      case Some(t) => (compactIvfPqIndex(index, Some(t), durableRoot), true)
      case None => (index, false)
    }
  }

  /** METADATA-FILTERED ANN over a built index — the vector-DB "filtered
    * search" surface: top-k among only the corpus vectors whose metadata
    * row satisfies `pred`. The filter applies to the CANDIDATE list
    * (inverted-list ids ⋈ metadata, predicate pushed into that join)
    * BEFORE any ADC scoring — post-filtering a top-k instead would both
    * under-fill k and score candidates the filter was going to discard.
    * `meta` is keyed by `c_id`; at scale it joins the (vector-free)
    * candidate ids keyed — the raw corpus is never touched. k-bounded
    * ranking as everywhere. Note the recall caveat every vector DB
    * carries: a highly selective filter empties probed lists, so
    * filtered recall needs higher nProbe (measure with
    * [[ivfPqIndexHealth]] / the recall gate at the chosen operating
    * point). */
  def ivfPqTopKFilteredIndexed(queries: DataFrame, index: IvfPqIndex,
      meta: DataFrame, pred: Column, k: Int, nProbe: Int = 4): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    // distinct: a metadata table with several rows per c_id (multi-label)
    // would otherwise duplicate inverted-list rows and DOUBLE the per-pair
    // ADC sums downstream — one thin-column exchange buys correctness for
    // any caller input
    val keep = meta.filter(pred).select(col("c_id")).distinct()
    val filtered = IvfPqIndex(index.corpus, index.centroids,
      index.assigned.join(keep, Seq("c_id")), index.codebook, index.codes,
      index.crossTerms, index.m)
    ivfPqTopKIndexed(queries, filtered, k, nProbe)
  }

  /** Exact filtered search — brute-force cosine top-k restricted to the
    * corpus rows satisfying `pred` (the oracle-able baseline of
    * [[ivfPqTopKFilteredIndexed]], and the right tool outright when the
    * filter is selective enough that the survivor set is small). The
    * predicate pushes into the corpus scan before any scoring. */
  def cosineTopKFiltered(queries: DataFrame, corpus: DataFrame, k: Int,
      pred: Column): DataFrame =
    cosineTopK(queries, corpus.filter(pred), k)

  /** INDEX HEALTH REPORT — the ops-side read on a built index that
    * decides nProbe tuning and rebuild cadence: per-inverted-list sizes
    * (a skewed list turns nProbe=4 into a half-corpus scan for queries
    * probing it), the global imbalance factor (max/mean list size,
    * permille), and the measured ADC quantization error on a query
    * sample (served ADC cosine vs exact cosine per shortlist pair —
    * growing error means the corpus has drifted from the trained
    * quantizers and append-without-rebuild is going stale). Long-format
    * `(metric, key, value)` with integer values only: list sizes are
    * exact counts; the error aggregates integer micro-unit diffs via
    * exact sum-div-count, so the report is bit-stable on any
    * partitioning. Costs one pass over the (vector-free) inverted lists
    * plus one `|sample|·k` shortlist scoring — never a corpus scan of
    * raw vectors beyond the sampled pairs' probe.
    */
  def ivfPqIndexHealth(index: IvfPqIndex, sampleQueries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    def idiv(a: Column, b: Column): Column = Exact.idiv(a, b)
    // LEFT-join the centroid ids so centroids with ZERO members still emit
    // list_size=0 and enter the imbalance max/mean: deriving lists from
    // assigned.groupBy alone would drop empty lists and average over the
    // non-empty ones only — understating skew precisely when training
    // degenerated (the case the report exists to catch)
    val lists = index.centroids.select(col("cent_id"))
      .join(index.assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n0")),
        Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("n0"), lit(0L)).as("n"))
    val listRows = lists.select(lit("list_size").as("metric"),
      col("cent_id").cast("long").as("key"), col("n").as("value"))
    // coalesce guards the integer-only contract on degenerate inputs
    // (empty inverted lists / empty sample → zero-row aggregates would
    // otherwise emit NULL values)
    val imbalance = lists.agg(
      coalesce(idiv(max(col("n")) * lit(1000L) * count(lit(1)), sum(col("n"))),
        lit(0L)).as("value"))
      .select(lit("imbalance_permille").as("metric"), lit(-1L).as("key"), col("value"))
    // ADC error on the sample's served shortlist: both sides in exact
    // integer micro-units (served cos is 6-dp rounded by contract)
    val served = ivfPqTopKIndexed(sampleQueries, index, k, nProbe)
      .select(col("q_id"), col("c_id"),
        round(col("cos") * 1e6).cast("long").as("adc_micro"))
    val q = sampleQueries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val diffs = served
      .join(broadcast(q), Seq("q_id"))
      .join(index.corpus, Seq("c_id"))
      .select(abs(col("adc_micro")
        - round(cosineFast(col("qv"), col("cv")) * 1e6).cast("long")).as("e"))
    val errRows = diffs.agg(
        coalesce(idiv(sum(col("e")), count(lit(1))), lit(0L)).as("avg_e"),
        coalesce(max(col("e")), lit(0L)).as("max_e"),
        count(lit(1)).as("n_pairs"))
      .select(explode(array(
        struct(lit("adc_err_micro_avg").as("metric"), lit(-1L).as("key"), col("avg_e").as("value")),
        struct(lit("adc_err_micro_max").as("metric"), lit(-1L).as("key"), col("max_e").as("value")),
        struct(lit("adc_err_pairs").as("metric"), lit(-1L).as("key"), col("n_pairs").as("value")))).as("r"))
      .select(col("r.metric"), col("r.key"), col("r.value"))
    listRows.unionByName(imbalance).unionByName(errRows)
  }

  /** Release ONE index generation's DATA-tier caches (corpus, inverted
    * lists, codes, serving pivot, and its delta chain) without touching
    * the quantizer frames it SHARES with successor generations
    * ([[ivfPqIndexAppend]] reuses centroids / codebook / cross-terms).
    * Call it only on a generation superseded by a STANDALONE cut
    * (remove, compaction, rebuild), after the successor materializes —
    * an appended successor reads the superseded caches through its lazy
    * unions. Otherwise every superseded generation keeps a full corpus
    * copy pinned in the artifact tier, and the only other lever
    * (`GraftCaches.releaseArtifacts()`) drops EVERYTHING including the
    * live index and the memos. Unpersist is idempotent, so the artifact
    * registry's own later release of the same frames is harmless. */
  def releaseIndexData(index: IvfPqIndex, blocking: Boolean = false): Unit = {
    index.corpus.unpersist(blocking)
    index.assigned.unpersist(blocking)
    index.codes.unpersist(blocking)
    // the scorer's pivoted-codes cache rides the generation: drop it
    // here so per-batch rolls in a serving stream release their pivots
    // (the artifact registry's later unpersist of the same frame is
    // idempotent and harmless)
    codesPivotMemo.remove(codesPivotKey(index.codes))
      .foreach(_.unpersist(blocking))
    // delta generations: member unions above are uncached (no-op
    // unpersist); the storage rides the chain
    index.chain.release(blocking)
  }

  /** Materialize one generation's DATA-tier member caches (corpus,
    * inverted lists, codes — the serving pivot is already counted at
    * construction by [[withServingPivot]]). THE CUT-ROLL CONTRACT: a
    * successor minted by a remove holds lazy anti-join caches OVER the
    * superseded generation's caches, so they must fill BEFORE
    * [[releaseIndexData]] drops the parents — a
    * cache-to-cache copy here versus a full standing-lineage recompute
    * (back to the last durable cut) charged to the first serving query
    * after the roll. The serving rolls call this between the ref swap
    * and the superseded generation's release; counts on already-filled
    * caches are metadata-cheap, so the call is idempotent in cost too. */
  def materializeIndexData(index: IvfPqIndex): Unit = {
    index.codes.count(); index.assigned.count(); index.corpus.count()
    ()
  }

  /** Drop a superseded codes frame's serving-pivot memo entry WITHOUT
    * unpersisting its frame (delta generations share the pivot's cached
    * pieces with their successors) — the per-roll hygiene of a
    * serving stream, so the memo does not accrete one dead entry per
    * micro-batch. */
  private[graft] def dropCodesPivotEntry(codes: DataFrame): Unit = {
    codesPivotMemo.remove(codesPivotKey(codes))
    ()
  }

  /** Build-once memo over [[buildIvfPqIndex]]: one trained index per
    * (session, corpus plan, parameters) — `ivfPqTopK` and
    * `ivfPqRerankTopK` against the same corpus share one training run,
    * like production's offline index + online serving split. Keyed by the
    * ANALYZED plan's semantic hash, so two reads of the same table with
    * differently-aliased but equivalent plans still share. Entries drop
    * when [[graft.GraftCaches.releaseArtifacts]] runs (registered hook) —
    * a stale handle can never serve a released artifact. */
  private val indexMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int, Int, Int, Int, Int), IvfPqIndex]
  graft.GraftCaches.onArtifactRelease(() => indexMemo.clear())

  def ivfPqIndexFor(corpus: DataFrame, nCentroids: Int = 16,
      coarseIters: Int = 2, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 2): IvfPqIndex = {
    val key = (System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash(),
      nCentroids, coarseIters, m, ksub, pqIters)
    indexMemo.getOrElseUpdate(key,
      buildIvfPqIndex(corpus, nCentroids, coarseIters, m, ksub, pqIters))
  }

  // ------------------------------------------------- Scale-adaptive geometry
  /** SCALE-ADAPTIVE IVF GEOMETRY — the production sizing rule. A FIXED
    * nCentroids is the one way an IVF index silently stops scaling: each
    * probed inverted list holds |corpus|/nCentroids vectors, so per-query
    * serving cost grows LINEARLY with the corpus however good the rest of
    * the plan is. The standard rule (FAISS guidelines; Jégou et al. size
    * nlist to √N-order) keeps lists near √N:
    *
    *   nCentroids = clamp(round(√N), 16, 65536)
    *   nProbe     = max(4, round(√nCentroids))
    *
    * nProbe grows with √nCentroids because finer lists individually carry
    * less of a query's true neighborhood — probing a √-growing number of
    * them holds recall near a constant operating point (measured, not
    * asserted: `ann_auto_geometry` joins `ann_recall_report`'s family).
    * Probed rows per query are then nProbe·N/nCentroids ≈ N^¾ instead of
    * the fixed-geometry N — at ×100 corpus the per-query scan shrinks
    * ~31× vs fixed lists, and at ×10 the measured fixed-|Q| ratio drops
    * from ~1.7× toward ~1.2× (`BENCH_sf1.json` auto_geometry_probe).
    * The 65536 cap bounds the broadcast quantizer (64k × d doubles ≈
    * 32 MB at d=64) — past that, production shards the coarse quantizer
    * (IMI / HNSW-coarse), outside this engine's scope. */
  def autoGeometry(corpusCount: Long): (Int, Int) = {
    val nc = math.max(16L, math.min(65536L,
      math.round(math.sqrt(corpusCount.toDouble)))).toInt
    val np = math.max(4, math.round(math.sqrt(nc.toDouble)).toInt)
    (nc, np)
  }

  /** Training vectors per centroid for auto-geometry builds: k-means
    * converges with O(10²) samples per cell (FAISS warns below ~39 and
    * caps at 256 by default); 128 keeps the Lloyd cost O(nCentroids²·128)
    * — INDEPENDENT of corpus size — while assignment/coding still scan
    * every vector once. */
  val AutoTrainPerCentroid = 128

  private val autoMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int, Int, Int, Int), (IvfPqIndex, Int)]
  graft.GraftCaches.onArtifactRelease(() => autoMemo.clear())

  /** Build-once memo of the AUTO-GEOMETRY IVF-PQ index: counts the corpus
    * (one metadata-only parquet job), derives `(nCentroids, nProbe)` from
    * [[autoGeometry]], trains the quantizers on a deterministic
    * hash-sample of [[AutoTrainPerCentroid]]·nCentroids vectors, and
    * returns the built index with its recommended nProbe. Same artifact
    * lifecycle as [[ivfPqIndexFor]]. */
  def ivfPqAutoIndexFor(corpus: DataFrame, m: Int = 16, ksub: Int = 32,
      coarseIters: Int = 1, pqIters: Int = 1): (IvfPqIndex, Int) = {
    val key = (System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash(), m, ksub, coarseIters, pqIters)
    autoMemo.getOrElseUpdate(key, {
      val n = corpus.count()
      val (nc, np) = autoGeometry(n)
      (buildIvfPqIndex(corpus, nc, coarseIters, m, ksub, pqIters,
        autoTrainSample(n, nc)), np)
    })
  }

  /** Deterministic hash-thresholded sample of ~[[AutoTrainPerCentroid]]·nc
    * training vectors (cap ≥ N → no predicate, training sees the full
    * corpus). FACTORED so the auto build and the rebuild policy train
    * through the bit-identical predicate — the `ann_rebuild_policy` gate's
    * oracle (rebuilt-serving ≡ fresh-auto-built serving) depends on it. */
  private def autoTrainSample(n: Long, nc: Int): Option[Column] = {
    val cap = AutoTrainPerCentroid.toLong * nc
    if (cap >= n) None
    else Some(pmod(hash(col("c_id")), lit(1000000)) <
      lit(math.min(1000000L, 1000000L * cap / n + 1).toInt))
  }

  // ------------------------------------------------------ rebuild policy
  /** REBUILD POLICY — closes the loop the health report and append leave
    * open: appends grow a corpus under FROZEN quantizers, and nothing
    * decided when the index had drifted far enough that serving geometry
    * is wrong. Two triggers, both cheap reads of the (vector-free,
    * artifact-cached) index frames:
    *
    *  - GEOMETRY DRIFT: [[autoGeometry]] of the CURRENT corpus count wants
    *    ≥ `geometryFactor`× more (or fewer) centroids than the index has —
    *    the corpus outgrew its inverted-list geometry, so per-query probed
    *    rows are drifting off the N^¾ operating line;
    *  - LIST IMBALANCE: max/mean inverted-list size (permille, the
    *    [[ivfPqIndexHealth]] metric) exceeds `imbalanceMaxPermille` —
    *    training has degenerated relative to the data (hot lists turn
    *    nProbe into a near-corpus scan for the queries probing them).
    *
    * When neither fires, the index passes through unchanged with its
    * current geometry's auto nProbe. When either fires, the full corpus
    * (base + every appended generation — read from the index's own cached
    * frames, no external re-scan) REBUILDS at [[autoGeometry]] of its
    * count with sampled training — the bit-identical build path to
    * [[ivfPqAutoIndexFor]], so rebuilt-serving equals fresh-auto-built
    * serving exactly (the `ann_rebuild_policy` gate's closed-form oracle).
    * Returns `(index, nProbe, rebuilt)`; on `rebuilt = true` the caller
    * rolls generations ([[releaseIndexData]] on the superseded one once
    * the new index serves — the AnnServing rollover pattern, pinned with
    * a regeometry case in StreamingSpec). */
  def ivfPqRebuildIfStale(index: IvfPqIndex, m: Int = 16, ksub: Int = 32,
      coarseIters: Int = 1, pqIters: Int = 1, geometryFactor: Double = 1.3,
      imbalanceMaxPermille: Long = 4000L): (IvfPqIndex, Int, Boolean) = {
    require(geometryFactor > 1.0, "a factor ≤ 1 rebuilds on every call")
    // rolled-forward counter: the no-fire path costs zero corpus jobs
    val n = index.corpusRows
    val ncHave = index.centroids.count().toInt
    val (ncWant, npWant) = autoGeometry(n)
    val geomStale = ncWant >= geometryFactor * ncHave ||
      ncHave >= geometryFactor * ncWant
    // imbalance over the vector-free lists, empty lists included (the
    // left join mirrors ivfPqIndexHealth — dropping empty lists would
    // understate skew exactly when training degenerated). When the index
    // carries rolled-forward per-list counts the check is pure driver
    // arithmetic (same integer formula — SimilaritySpec pins equality);
    // the aggregation is the fallback for handles that lost the counter
    // (remove, warm fires, loads of pre-counter saves).
    lazy val imbalance = index.listSizes match {
      case Some(ls) =>
        val total = ls.valuesIterator.sum
        if (total == 0L) 0L
        else ls.valuesIterator.max * 1000L * ncHave / total
      case None =>
        val lists = index.centroids.select(col("cent_id"))
          .join(index.assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n0")),
            Seq("cent_id"), "left")
          .select(coalesce(col("n0"), lit(0L)).as("n"))
        lists.agg(coalesce(
            Exact.idiv(max(col("n")) * lit(1000L) * count(lit(1)), sum(col("n"))),
            lit(0L)).as("v"))
          .head().getLong(0)
    }
    if (!geomStale && imbalance <= imbalanceMaxPermille)
      (index, math.max(4, math.round(math.sqrt(ncHave.toDouble)).toInt), false)
    else {
      val corpusV = index.corpus
        .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      (buildIvfPqIndex(corpusV, ncWant, coarseIters, m, ksub, pqIters,
        autoTrainSample(n, ncWant)), npWant, true)
    }
  }

  /** WARM-START REBUILD — [[ivfPqRebuildIfStale]]'s detection with a
    * fire-day cost that is MOVED-MEMBERS-SIZED instead of corpus-sized.
    * The cold policy retrains both quantizers and re-assigns/re-codes
    * EVERY vector on fire; but geometry drift at the 1.3 factor means
    * the surviving centroids are still mostly right — so:
    *
    *  - GROW (ncWant > ncHave): keep every existing centroid and its
    *    list untouched; SPLIT the (ncWant − ncHave) hottest lists in
    *    two (deterministic 2-seed + one confined Lloyd step over each
    *    list's members — FAISS's imbalance-repair move), re-assign and
    *    re-code ONLY those members through the FROZEN codebook (the
    *    append path's arithmetic). Vectors in untouched lists keep
    *    their (cent_id, codes) rows bit-for-bit; cross-terms recompute
    *    only for the created centroids.
    *  - SHRINK (ncHave ≥ factor·ncWant — mass deletion): drop the
    *    (ncHave − ncWant) coldest lists, re-assign their members to
    *    the nearest surviving centroid, re-code those members;
    *    surviving lists and their cross-terms untouched.
    *
    * At 100 TB this is the difference between a fire-day that re-scans
    * the corpus and one that touches the drifted fraction: training
    * cost disappears entirely, and assignment/coding is bounded by the
    * split/dropped lists' membership (≈ the drift fraction · corpus,
    * concentrated in the hottest lists).
    *
    * COLD FALLBACKS (returned `warm = false` with `fired = true`):
    * imbalance-only fires (degenerate training — a proper retrain IS
    * the fix) and >2× geometry jumps (every list would split; that is
    * a re-ingest, not drift — and the amortized fire cadence at the
    * 1.3 factor never reaches it). Recall is MEASURED, not asserted:
    * the `ann_warm_rebuild` gate floors recall@5 against the exact
    * oracle and `ann_operating_report` carries the warm tier's
    * recall/MRR/nDCG beside the cold tiers'.
    *
    * Returns `(index, nProbe, fired, warm)`. */
  def ivfPqRebuildWarmStart(index: IvfPqIndex, m: Int = 16, ksub: Int = 32,
      coarseIters: Int = 1, pqIters: Int = 1, geometryFactor: Double = 1.3,
      imbalanceMaxPermille: Long = 4000L): (IvfPqIndex, Int, Boolean, Boolean) = {
    require(geometryFactor > 1.0, "a factor ≤ 1 rebuilds on every call")
    val n = index.corpusRows // rolled-forward counter
    // count AND max id in one pass: fresh GROW ids must mint past the
    // LARGEST existing cent_id, not the centroid COUNT — after a SHRINK
    // the surviving ids are non-contiguous, and count-based minting
    // would collide with survivors (duplicate cent_id rows silently
    // corrupting lists, cross-terms, and ADC scores on the next fire)
    val centStats = index.centroids
      .agg(count(lit(1)).as("nc"), max(col("cent_id")).as("mx")).head()
    val ncHave = centStats.getLong(0).toInt
    val maxCentId = if (centStats.isNullAt(1)) -1 else centStats.getInt(1)
    val (ncWant, npWant) = autoGeometry(n)
    val geomStale = ncWant >= geometryFactor * ncHave ||
      ncHave >= geometryFactor * ncWant
    lazy val imbalance = {
      val lists = index.centroids.select(col("cent_id"))
        .join(index.assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n0")),
          Seq("cent_id"), "left")
        .select(coalesce(col("n0"), lit(0L)).as("n"))
      lists.agg(coalesce(
          Exact.idiv(max(col("n")) * lit(1000L) * count(lit(1)), sum(col("n"))),
          lit(0L)).as("v"))
        .head().getLong(0)
    }
    val h = pmod(hash(col("c_id")), lit(1000000007))
    if (!geomStale && imbalance <= imbalanceMaxPermille)
      (index, math.max(4, math.round(math.sqrt(ncHave.toDouble)).toInt),
        false, false)
    else if (!geomStale || ncWant > 2 * ncHave) {
      val corpusV = index.corpus
        .select(col("c_id").as("vec_id"), col("cv").as("embedding"))
      (buildIvfPqIndex(corpusV, ncWant, coarseIters, m, ksub, pqIters,
        autoTrainSample(n, ncWant)), npWant, true, false)
    } else if (ncWant > ncHave) graft.GraftCaches.inArtifactScope {
      // GROW: split the k hottest lists
      val k = ncWant - ncHave
      val splitIds = index.assigned.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("nn"))
        .orderBy(col("nn").desc, col("cent_id").asc)
        .limit(k).collect().map(_.getInt(0)).toSeq.sorted
      // fresh-id ranks come from the DRIVER-side split list (already
      // collected — k ints), not a window: an unpartitioned row_number
      // is the exact shape the plan audit bans. The SAME k-row frame is
      // the join side of every split-membership filter below: broadcast
      // semi-/anti-joins keep the plan free of k-literal `isin` lists
      // (at 100 TB geometry a fire can split thousands of lists — a
      // literal list that size bloats every plan that embeds it)
      val sp = index.corpus.sparkSession
      val ranks = {
        import sp.implicits._
        splitIds.zipWithIndex.toDF("old_cent", "rnk")
      }
      val splitFrame = ranks.select(col("old_cent").as("cent_id"))
      val members = index.assigned
        .join(broadcast(splitFrame), Seq("cent_id"), "left_semi")
        .withColumnRenamed("cent_id", "old_cent")
        .join(index.corpus, Seq("c_id"))
        .select(col("old_cent"), col("c_id"), col("cv"))
        .persistTracked()
      // deterministic 2-seed per list: lo = the member with min
      // (murmur3, id); hi = the member FARTHEST from lo (max cosine
      // distance, id tie-break) — the widest split axis the list offers.
      // A list of pure duplicates yields hi == lo; the parity tie-break
      // below still halves it, and in the measure-zero corner where one
      // half lands empty the index simply carries one centroid fewer —
      // serving stays correct (probes rank existing centroids only).
      val lo = members
        .groupBy(col("old_cent"))
        .agg(min(struct(h.as("hk"), col("c_id").as("id"), col("cv").as("v"))).as("lo"))
        .select(col("old_cent"), col("lo.v").as("loV"))
      val seeds = members.join(broadcast(lo), Seq("old_cent"))
        .withColumn("d", lit(1.0) - cosineFast(col("cv"), col("loV")))
        .groupBy(col("old_cent"))
        .agg(max(struct(col("d"), col("c_id").as("id"), col("cv").as("v"))).as("hi"),
          first(col("loV")).as("loV"))
        .select(col("old_cent"), col("loV"), col("hi.v").as("hiV"))
      // one confined Lloyd step: nearer seed wins; ties (duplicate-heavy
      // lists — the exact boilerplate clusters that GET hot) split by id
      // hash parity so neither half collapses empty. The lo half keeps
      // the old cent_id (cross-term/list identity stays stable), the hi
      // half takes a fresh id past the largest EXISTING id (survivor ids
      // are non-contiguous after a SHRINK; see `maxCentId` above)
      val sideAssigned = members.join(broadcast(seeds), Seq("old_cent"))
        .withColumn("dLo", lit(1.0) - cosineFast(col("cv"), col("loV")))
        .withColumn("dHi", lit(1.0) - cosineFast(col("cv"), col("hiV")))
        .withColumn("side", when(col("dLo") < col("dHi"), 0)
          .when(col("dLo") > col("dHi"), 1)
          .otherwise(pmod(hash(col("c_id")), lit(2)).cast("int")))
        .join(broadcast(ranks), Seq("old_cent"))
        .withColumn("cent_id", when(col("side") === 0, col("old_cent"))
          .otherwise(lit(maxCentId + 1) + col("rnk")).cast("int"))
        .select(col("cent_id"), col("c_id"), col("cv"))
        .persistTracked()
      val newCentroids = sideAssigned
        .select(col("cent_id"), posexplode(col("cv")).as(Seq("dim", "x")))
        .groupBy(col("cent_id"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
        .select(col("cent_id"), col("dims.m").as("centroid"))
        .localCheckpointTracked()
      val centroids2 = graft.GraftCaches.persistedArtifact(
        index.centroids.join(broadcast(splitFrame), Seq("cent_id"), "left_anti")
          .unionByName(newCentroids))
      val assigned2 = graft.GraftCaches.persistedArtifact(
        index.assigned.join(broadcast(splitFrame), Seq("cent_id"), "left_anti")
          .unionByName(sideAssigned.select(col("cent_id"), col("c_id"))))
      // re-code ONLY the moved members: residual vs the new centroid
      // through the frozen codebook — untouched codes stay bit-for-bit
      val resid = sideAssigned.join(broadcast(newCentroids), Seq("cent_id"))
        .select(col("c_id"),
          zip_with(col("cv"), col("centroid"), (a, b) => a - b).as("cv"))
      // moved-members-sized code delta cached once: feeds the union member
      // AND the pivot seed (same shape as the append path)
      val newCodes = graft.GraftCaches.persistedArtifactFresh(
        assignNearestSub(pqSubVectors(resid, index.m), index.codebook)
          .select(col("c_id"), col("sub"), col("code")))
      val codes2 = graft.GraftCaches.persistedArtifact(
        index.codes.join(members.select(col("c_id")), Seq("c_id"), "left_anti")
          .unionByName(newCodes))
      val crossTerms2 = index.crossTerms
        .join(broadcast(splitFrame.select(col("cent_id").as("ut_cent_id"))),
          Seq("ut_cent_id"), "left_anti")
        .unionByName(crossTermRows(newCentroids, index.codebook, index.m))
        .localCheckpointTracked()
      // SERVING-PIVOT SEED (see ivfPqIndexAppend/ivfPqIndexRemove): only
      // moved members change codes, so the new pivot is cached-base-pivot
      // minus moved ids union the delta's own pivot — moved-sized work
      // instead of a corpus-sized re-aggregation
      codesPivotMemo.put(codesPivotKey(codes2),
        graft.GraftCaches.persistedArtifact(
          pivotedCodesFrame(index.codes)
            .join(members.select(col("c_id")), Seq("c_id"), "left_anti")
            .unionByName(newCodes.groupBy(col("c_id"))
              .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
              .select(col("c_id"), col("sc.code").as("codes")))))
      codes2.count(); assigned2.count(); centroids2.count()
      // the corpus frame is SHARED with the pre-fire generation, so a
      // chained (delta) index's chain carries forward — a warm fire is
      // not a standalone cut
      (withServingPivot(IvfPqIndex(index.corpus, centroids2, assigned2,
        index.codebook, codes2, crossTerms2, index.m,
        rows = Some(n), chain = index.chain)), npWant, true, true)
    } else graft.GraftCaches.inArtifactScope {
      // SHRINK: merge the k coldest lists into their nearest survivors.
      // The k coldest ids stay a k-row FRAME (no driver collect, no
      // isin-literal plan): broadcast semi-/anti-joins carry the
      // membership through every filter below — at 100 TB geometry a
      // mass deletion can drop thousands of lists
      val k = ncHave - ncWant
      val dropFrame = index.centroids.select(col("cent_id"))
        .join(index.assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("nn")),
          Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("nn"), lit(0L)).as("nn"))
        .orderBy(col("nn").asc, col("cent_id").asc)
        .limit(k).select(col("cent_id"))
        .localCheckpointTracked()
      val survivors = graft.GraftCaches.persistedArtifact(
        index.centroids.join(broadcast(dropFrame), Seq("cent_id"), "left_anti"))
      val moved = index.assigned
        .join(broadcast(dropFrame), Seq("cent_id"), "left_semi")
        .join(index.corpus, Seq("c_id"))
        .select(col("c_id"), col("cv"))
        .persistTracked()
      val reassigned = assignNearest(moved, survivors).persistTracked()
      val assigned2 = graft.GraftCaches.persistedArtifact(
        index.assigned.join(broadcast(dropFrame), Seq("cent_id"), "left_anti")
          .unionByName(reassigned.select(col("cent_id"), col("c_id"))))
      val resid = reassigned.join(broadcast(survivors), Seq("cent_id"))
        .select(col("c_id"),
          zip_with(col("cv"), col("centroid"), (a, b) => a - b).as("cv"))
      // moved-sized code delta cached once — union member + pivot seed
      val newCodes = graft.GraftCaches.persistedArtifactFresh(
        assignNearestSub(pqSubVectors(resid, index.m), index.codebook)
          .select(col("c_id"), col("sub"), col("code")))
      val codes2 = graft.GraftCaches.persistedArtifact(
        index.codes.join(moved.select(col("c_id")), Seq("c_id"), "left_anti")
          .unionByName(newCodes))
      val crossTerms2 = index.crossTerms
        .join(broadcast(dropFrame.select(col("cent_id").as("ut_cent_id"))),
          Seq("ut_cent_id"), "left_anti")
        .localCheckpointTracked()
      // serving-pivot seed, the GROW arm's shape (moved-sized work)
      codesPivotMemo.put(codesPivotKey(codes2),
        graft.GraftCaches.persistedArtifact(
          pivotedCodesFrame(index.codes)
            .join(moved.select(col("c_id")), Seq("c_id"), "left_anti")
            .unionByName(newCodes.groupBy(col("c_id"))
              .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
              .select(col("c_id"), col("sc.code").as("codes")))))
      codes2.count(); assigned2.count(); survivors.count()
      // corpus shared with the pre-fire generation — chain carries forward
      (withServingPivot(IvfPqIndex(index.corpus, survivors, assigned2,
        index.codebook, codes2, crossTerms2, index.m,
        rows = Some(n), chain = index.chain)), npWant, true, true)
    }
  }

  // ------------------------------------------------- recall-floor serving
  /** RECALL-FLOOR OPERATING POINT over an auto-geometry index — the
    * quality curve's counterpart to [[autoGeometry]]'s cost curve. With
    * nc = √N cells and nProbe = √nc, the PROBED FRACTION of cells is
    * nc^(−½) = N^(−¼): it shrinks as the corpus grows, which is exactly
    * the measured recall decay of the committed auto point (150‰ @5 at
    * ×100 — BENCH_sf1.json). Holding a recall floor needs the probe
    * count to shrink-as-a-fraction more slowly:
    *
    *   nProbe = nc^¾  (probed cell fraction N^(−⅛), probed rows N^(7/8))
    *
    * plus a constant-depth EXACT re-rank (64-deep shortlist → true-cosine
    * top-k, |Q|·64 exact dots per query set — corpus-size-independent),
    * which removes ADC quantization from the final ordering so the
    * operating point is limited by list coverage alone. Serving cost
    * rises from N^¾ to N^(7/8) — still sub-linear, and the ×30 probe
    * (`tools/RecallProbe`, BENCH_RECALL_x30.json) measures the
    * recall-vs-cost pair rather than asserting it. */
  def autoRecallOperatingPoint(nCentroids: Int, k: Int): (Int, Int) = {
    val np = math.max(4, math.round(math.pow(nCentroids.toDouble, 0.75)).toInt)
    (np, math.max(64, k))
  }

  /** One-call recall-floor serving: the SAME memoized auto-geometry index
    * as [[ivfPqTopKAuto]] (no second build), probed at [[autoRecallOperatingPoint]]'s
    * deeper nProbe with exact re-ranking. */
  def ivfPqTopKAutoRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 16, ksub: Int = 32): DataFrame = {
    val (index, _) = ivfPqAutoIndexFor(corpus, m, ksub)
    val nc = index.centroids.count().toInt
    val (np, depth) = autoRecallOperatingPoint(nc, k)
    ivfPqRerankTopKIndexed(queries, index, k, rerank = depth, nProbe = np)
  }

  /** One-call auto-geometry serving: ANN top-k where the index geometry is
    * DERIVED FROM THE CORPUS SIZE instead of pinned by the caller — the
    * entry point that stays the right plan from 10⁴ to 10¹⁰ vectors. */
  def ivfPqTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 16, ksub: Int = 32): DataFrame = {
    val (index, nProbe) = ivfPqAutoIndexFor(corpus, m, ksub)
    ivfPqTopKIndexed(queries, index, k, nProbe)
  }

  /** IVFADC serving path over a BUILT index (see [[ivfPqTopK]]'s scaladoc
    * for the decomposition): probes against the trained coarse quantizer,
    * candidates from the persisted inverted lists, scoring via the
    * per-query ADC table + the index's cross-term table, k-bounded
    * ranking. Plans zero training jobs — the index frames are served from
    * the artifact cache. */
  def ivfPqTopKIndexed(queries: DataFrame, index: IvfPqIndex, k: Int,
      nProbe: Int = 4): DataFrame = {
    val scored = ivfPqAdcScored(queries, index, nProbe)
    TopK.rankTopK(scored, k, candidateIds = Some(index.corpus.select(col("c_id"))))
  }

  /** The ADC scoring stage of [[ivfPqTopKIndexed]], factored so the top-k
    * and RANGE entry points share it bit-for-bit (committed fixtures
    * depend on the exact nano-unit arithmetic): per probed (query,
    * candidate) pair, the integer-decomposed approximate cosine rounded
    * to the output's 6-dp granularity. */
  /** Per-vector PQ codes pivoted to one `array<int>` row (ordered by
    * sub) — the scorer's join side. Corpus-sized, so it is computed ONCE
    * per index generation: memoized by the codes frame's semantic hash
    * and persisted in the artifact tier; [[releaseIndexData]] drops the
    * entry with the generation so long-lived serving streams (per-batch
    * rolls) cannot accrete dead pivots. */
  private val codesPivotMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int), DataFrame]
  graft.GraftCaches.onArtifactRelease(() => codesPivotMemo.clear())

  private def codesPivotKey(codes: DataFrame): (Int, Int) =
    (System.identityHashCode(codes.sparkSession),
      codes.queryExecution.analyzed.semanticHash())

  private def pivotedCodesFrame(codes: DataFrame): DataFrame =
    codesPivotMemo.getOrElseUpdate(codesPivotKey(codes),
      graft.GraftCaches.persistedArtifact(
        codes.groupBy(col("c_id"))
          .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
          .select(col("c_id"), col("sc.code").as("codes"))
          // serving-width cut (see buildIvfPqIndex's assigned): the PQ ADC
          // kernel scans this cache unshuffled, so its parallelism is this
          // frame's width — AQE coalesces the tiny pivot shuffle to one
          // partition otherwise. Integer content, per-row scoring. Sorted
          // on the cut key so the serve's lists⋈pivot join plans no sort.
          .repartition(
            codes.sparkSession.sessionState.conf.numShufflePartitions,
            col("c_id"))
          .sortWithinPartitions(col("c_id"))))

  private def pivotedCodes(index: IvfPqIndex): DataFrame =
    pivotedCodesFrame(index.codes)

  /** QUERY-INDEPENDENT pivoted cross-term lookup table (`utab`) — one
    * `array[sub][code]` row per coarse centroid. The serve previously
    * re-aggregated the cross-term rows into this shape PER QUERY CALL
    * (two exchanges + two object aggregations before the broadcast —
    * pure fixed cost, the table depends only on index state). Memoized
    * per cross-term frame like [[codesPivotMemo]] and materialized at
    * index construction ([[withServingPivot]]), so a serve just
    * broadcasts the cached nCentroids-row table. Cross-terms are
    * quantizer-tier state shared across append generations (never
    * chained), so entries drop with the artifact tier, not per roll. */
  private val crossTabMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, Int), DataFrame]
  graft.GraftCaches.onArtifactRelease(() => crossTabMemo.clear())

  private def pivotedCrossTerms(crossTerms: DataFrame): DataFrame =
    crossTabMemo.getOrElseUpdate(
      (System.identityHashCode(crossTerms.sparkSession),
        crossTerms.queryExecution.analyzed.semanticHash()),
      graft.GraftCaches.persistedArtifact(
        crossTerms
          .groupBy(col("ut_cent_id"), col("ut_sub"))
          .agg(array_sort(collect_list(struct(col("ut_cent"), col("ur2rn2_e9")))).as("cs"))
          .select(col("ut_cent_id"), col("ut_sub"), col("cs.ur2rn2_e9").as("arr"))
          .groupBy(col("ut_cent_id"))
          .agg(array_sort(collect_list(struct(col("ut_sub"), col("arr")))).as("sa"))
          .select(col("ut_cent_id").as("ut_cid"), col("sa.arr").as("utab"))))

  private def ivfPqAdcScored(queries: DataFrame, index: IvfPqIndex,
      nProbe: Int): DataFrame = {
    graft.plans.GraftFunctions.register(queries.sparkSession)
    val m = index.m
    // QUERY-SIDE WIDTH CUT (guide §2.5 "input skew: repartition after the
    // read"): everything downstream of `q` blows up per query — probes
    // (×nCentroids cosines) and the ADC lookup table (×m·ksub dotps) —
    // while the query frame itself often arrives at FILE-SCAN width (one
    // parquet sliver ⇒ ONE task computing |Q|·m·ksub dot products;
    // measured 2.7 s single-task qtab stage in ann_auto_topk_fixedq at
    // sf0.1). One query-frame-sized hash exchange buys session-width
    // parallelism for the ×512 compute; per-row math and sorted
    // collect_lists make the result partition-independent.
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      .repartition(
        queries.sparkSession.sessionState.conf.numShufflePartitions,
        col("q_id"))
    // probe frame: per (q, probed cent) — dot(q, u), ‖u‖², ‖q‖ ride
    // along. NOT persisted: it has exactly one consumer below, and a
    // tracked cache here would leak one dead frame per micro-batch in a
    // long-lived serving stream (AnnServing) that never reaches a
    // between-queries unpersistAll.
    val probes = probeCentroids(q, index.centroids, nProbe)
      .join(broadcast(index.centroids), Seq("cent_id"))
      .select(col("q_id"), col("cent_id"),
        sqrt(dotp(col("qv"), col("qv"))).as("qnorm"),
        round(dotp(col("qv"), col("centroid")) * 1e9).cast("long").as("qu_e9"),
        round(dotp(col("centroid"), col("centroid")) * 1e9).cast("long").as("un2_e9"))
    // BROADCAST the probe side of the expansion join (|Q|·nProbe rows —
    // the query frame is broadcast-bounded by contract everywhere in
    // this module): as a shuffle join AQE sizes this exchange by its
    // INPUTS (probe rows + the vector-free lists, both byte-tiny) and
    // coalesces it to a handful of tasks, while its OUTPUT is the
    // candidate blow-up — the scoring stage then runs nearly serial
    // (measured 3.9× at ×30, graft.tools.AqeProbe). Broadcasting makes
    // the expansion map-side over the cached lists' own partitioning:
    // no exchange exists for AQE to mis-size.
    // CODES-FIRST EXPANSION (guide §8 "move heavy rows once", §2.4): the
    // previous shape expanded assigned ⋈ broadcast(probes) into |Q|-scaled
    // candidate rows FIRST and then shuffled that expansion by c_id to
    // reach the codes pivot — the single biggest exchange of every serve
    // (18 MB at sf0.1 on the fixedq gates, versus a ~1 MB corpus pivot;
    // the candidate set outgrows the corpus whenever |Q|·nProbe >
    // nCentroids, i.e. always at scale). The inverted lists and the pivot
    // are BOTH cached hash-partitioned and sorted on c_id at session
    // width, so joining them first plans ZERO exchanges and zero sorts on
    // fresh/loaded/removed/compacted generations (union-built append
    // members lose the partitioning and re-shuffle corpus-sized frames —
    // still strictly smaller than the expansion they replace), and the
    // ×|Q| blow-up then runs map-side against the broadcast probe frame:
    // no candidate-sized exchange exists anywhere in the serve.
    val candidates = index.assigned
      .join(pivotedCodes(index), Seq("c_id"))
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("q_id") =!= col("c_id"))
    // PIVOTED ADC LOOKUP TABLES — one row per query / per coarse cell,
    // each carrying an array[sub][code] of nano-unit terms. Codebook
    // cents are CONTIGUOUS per sub (trainPqCodebook renumbers after
    // Lloyd), so a sorted collect IS the positional array and the
    // per-candidate score is a pure projection: m element_at lookups
    // into two broadcast arrays + one integer fold. The normalized-row
    // shape this replaces joined m=16 code rows per candidate through
    // two 3-key broadcast probes and a (q,c)-keyed hash aggregation —
    // 16× the shuffle rows and an exchange the projection never plans.
    // Sums are the SAME longs in a different order: bit-identical cos.
    val qtab = q.join(broadcast(index.codebook), lit(true))
      .select(col("q_id").as("qt_qid"), col("sub"), col("cent"),
        round(dotp(slice(col("qv"), col("sub") * pqDsubOf(col("qv"), m) + 1,
          pqDsubOf(col("qv"), m)), col("centroid")) * 1e9).cast("long").as("qr_e9"))
      .groupBy(col("qt_qid"), col("sub"))
      .agg(array_sort(collect_list(struct(col("cent"), col("qr_e9")))).as("cs"))
      .select(col("qt_qid"), col("sub"), col("cs.qr_e9").as("arr"))
      .groupBy(col("qt_qid"))
      .agg(array_sort(collect_list(struct(col("sub"), col("arr")))).as("sa"))
      .select(col("qt_qid"), col("sa.arr").as("qtab"))
    val utab = pivotedCrossTerms(index.crossTerms)
    val scored = candidates
      .join(broadcast(qtab), col("q_id") === col("qt_qid"))
      .join(broadcast(utab), col("cent_id") === col("ut_cid"))
      .select(col("q_id"), col("c_id"), col("qnorm"), col("qu_e9"), col("un2_e9"),
        // native codegen fold (graft.plans.AdcFold): the HoF
        // aggregate/element_at form is CodegenFallback — interpreted
        // lambda dispatch per subspace per candidate — which measured
        // SLOWER than the old 16-row groupBy it replaced; the native
        // loop keeps the whole scoring stage inside one codegen span
        expr("graft_adc_fold(codes, qtab)").as("qr_sum"),
        expr("graft_adc_fold(codes, utab)").as("x_sum"))
      .select(col("q_id"), col("c_id"),
        // rank at the OUTPUT's 6-dp granularity: the u/r decomposition
        // rounds each term to nano-units independently, so two corpus
        // vectors whose true cosines tie exactly can differ by ~1e-8 here
        // — ranking the rounded value keeps exact ties breaking on c_id,
        // matching the brute-force tie contract
        round(when(col("un2_e9") + col("x_sum") > 0 && col("qnorm") > 0,
          ((col("qu_e9") + col("qr_sum")).cast("double") / 1e9)
            / (col("qnorm")
               * sqrt((col("un2_e9") + col("x_sum")).cast("double") / 1e9)))
          .otherwise(lit(0.0)), 6).as("cos"))
    scored
  }

  /** RANGE SEARCH over the COMPRESSED index — the 100 TB radius shape:
    * the ADC scan shortlists every probed pair whose APPROXIMATE cosine
    * clears `minCos - slack` (raw vectors untouched — the scan reads
    * codes and broadcast tables only), then ONLY those candidates probe
    * the raw corpus once for the exact cosine, and the true threshold
    * filters on it. Two containment guarantees, both spec-gated:
    * result ⊆ [[cosineRange]] with IDENTICAL cos on every surviving pair
    * (the verify stage runs the exact scorer, so quantization can lose
    * candidates but never admit false pairs or drift a score); and at
    * full probe with `slack >= 2` (every probed pair becomes a
    * candidate — ADC cosines live in [-1-ε, 1+ε]) the result EQUALS
    * brute force, the closed-form proof that only the shortlist is
    * approximate. `slack` trades recall against verify fan-out exactly
    * like rerank depth does for top-k; size it from the measured ADC
    * error in [[ivfPqIndexHealth]]. */
  def ivfPqRangeIndexed(queries: DataFrame, index: IvfPqIndex,
      minCos: Double, nProbe: Int = 4, slack: Double = 0.05): DataFrame = {
    val cand = ivfPqAdcScored(queries, index, nProbe)
      .filter(col("cos") >= lit(minCos - slack))
      .select(col("q_id"), col("c_id"))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    // no broadcast hint on the candidate side: a range result is
    // OUTPUT-sized (dense neighborhoods / low minCos / large slack make
    // the shortlist arbitrarily big), so forcing it into a broadcast
    // caps the workload at driver memory — AQE picks the join strategy
    // from the shortlist's measured size instead. Only the query frame
    // (|Q|-bounded by contract) keeps its hint.
    cand.join(broadcast(q), Seq("q_id"))
      .join(index.corpus, Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        cosineFast(col("qv"), col("cv")).as("cos"))
      .filter(col("cos") >= lit(minCos))
      .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"))
  }

  /** Per-subspace nearest-centroid assignment (codebook broadcast; min-
    * over-struct with centroid-id tie-break — map-side partial collapse,
    * same shape as [[assignNearest]]). */
  private def assignNearestSub(csub: DataFrame, codebook: DataFrame): DataFrame =
    csub.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", l2sq(col("sv"), col("centroid")))
      .groupBy(col("c_id"), col("sub"))
      .agg(min(struct(col("dist"), col("cent"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("c_id"), col("sub"), col("best.cent").as("code"), col("sv"))

  // ------------------------------------------------------------ Centroids
  /** PAIRWISE CENTROID COSINE between labeled groups — the "source / topic
    * similarity map" a corpus pipeline uses to spot redundant sources and
    * to diversify mixtures (two sources whose centroid cosine ≈ 1 carry
    * near-identical material). Cosine is scale-invariant, so the cosine of
    * the MEAN vectors equals the cosine of the per-group SUM vectors — the
    * division by n never happens and the sums stay exact.
    *
    * Determinism contract: each component is quantized to integer
    * micro-units map-side, per-(label, dim) sums are exact 64-bit
    * integers, and the dot/norm accumulations over dims run in
    * DECIMAL(38,0) (exact, associative — at petabyte n the per-dim sums
    * reach ~5e14 and their products ~2.5e29, past int64 but 10 digits
    * inside DECIMAL 38). The final cosine is one IEEE double expression
    * over those exact integers — identical on every engine.
    *
    * Shape at scale: one scan → posexplode → (label, dim)-keyed partial
    * aggregation (|labels|·d rows out of the exchange); the pairwise stage
    * runs on that bounded frame (|labels|²·d join rows), broadcast by AQE.
    */
  def labelCentroidCosine(emb: DataFrame, label: Column, vec: Column): DataFrame = {
    val comp = emb
      .select(label.as("label"), posexplode(vec.cast("array<double>")).as(Seq("d0", "x")))
      .select(col("label"), col("d0"), round(col("x") * 1e6).cast("long").as("xq"))
      .groupBy(col("label"), col("d0"))
      .agg(sum(col("xq")).as("s"), count(lit(1)).as("n"))
    val a = comp.select(col("label").as("label_i"), col("d0"),
      col("s").as("si"), col("n").as("ni"))
    val b = comp.select(col("label").as("label_j"), col("d0"),
      col("s").as("sj"), col("n").as("nj"))
    a.join(b, Seq("d0")).filter(col("label_i") <= col("label_j"))
      .groupBy(col("label_i"), col("label_j"))
      .agg(
        max(col("ni")).as("n_i"), max(col("nj")).as("n_j"),
        sum(col("si").cast("decimal(38,0)") * col("sj").cast("decimal(38,0)"))
          .as("dot"),
        sum(col("si").cast("decimal(38,0)") * col("si").cast("decimal(38,0)"))
          .as("nrm_i"),
        sum(col("sj").cast("decimal(38,0)") * col("sj").cast("decimal(38,0)"))
          .as("nrm_j"))
      .select(col("label_i"), col("label_j"), col("n_i"), col("n_j"),
        round(col("dot").cast("double")
          / (sqrt(col("nrm_i").cast("double")) * sqrt(col("nrm_j").cast("double"))), 6)
          .as("centroid_cos"))
  }
}
