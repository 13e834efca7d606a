package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Blocked exact-cosine scoring kernel — the GEMM-shaped fast path behind
  * [[Similarity.cosineTopK]] / [[Similarity.hardNegatives]] /
  * [[Similarity.cosineRange]] for integral-id frames.
  *
  * WHY mapPartitions HERE (the documented last resort): exact brute-force
  * scoring is a dense matrix product — |C|·|Q| pairs of d-element dot
  * products. The declarative form (broadcast nested-loop join + codegen'd
  * fused-cosine expression) is plan-shape-optimal (corpus never shuffles,
  * k-bounded partial ranking), but it MATERIALIZES every scored pair as a
  * join row: measured ~160 ns/pair of row iteration against ~6 ns of
  * useful arithmetic at d=64 — the ×100 record paid 134 s on the exact
  * tier where the arithmetic costs ~2 s. No Catalyst operator expresses
  * "stream one side once, keep a k-bounded accumulator per broadcast row",
  * so this is the (d) case of the custom-operator ladder, the same call
  * MLlib makes for its block-GEMM paths.
  *
  * Shape at scale (unchanged from the join form):
  *   - the CORPUS NEVER SHUFFLES — one column-pruned scan, kernel runs
  *     map-side per partition;
  *   - the QUERY side broadcasts (an explicit `sparkContext.broadcast` of
  *     the flattened query matrix — the same driver-memory class as the
  *     `broadcast(q)` hint it replaces);
  *   - the exchange carries O(|Q|·k·partitions) partial rows into the
  *     existing exact merges ([[TopK.rankTopK]] / TopKPerKey) — identical
  *     to the join path's partial aggregation.
  *   - kernel working set is O(|Q|·(d + k)) per task. At 100 TB with
  *     query sets beyond ~10⁶, `maxQueriesPerPass` splits the query matrix
  *     into independent passes (disjoint query blocks union below the
  *     merge; the corpus scan repeats per pass — linear, never quadratic).
  *
  * BIT-IDENTICAL by construction to the `graft_cosine` expression
  * ([[graft.plans.ArrayCosineSimilarity]]): dot accumulates over
  * `min(|a|,|b|)` elements in index order; each norm accumulates over its
  * FULL vector in index order (tails count toward norms — IEEE addition
  * sequences are identical, so the doubles are identical, so ranking and
  * 6-place rounding downstream are identical); `denom = sqrt(nx)*sqrt(ny)`,
  * cos = 0 when denom == 0. The top-k accumulator keeps an exact
  * per-partition top-k under the global contract order (cos desc, id asc
  * — a total order since (q,c) pairs are unique), so the merged global
  * top-k equals the full scored set's. SimilaritySpec gates row-set
  * equality against the join path on every variant.
  */
object BlockedExact {

  /** One flattened query block, broadcast to the corpus scan. `offs` has
    * nq+1 entries (CSR-style ragged layout — vectors may differ in
    * length); `normSqrt(i)` = sqrt(Σ v²) over query i's full vector in
    * index order. `labels` is null unless the caller is label-aware. */
  private[graft] final case class QBlock(ids: Array[Long], offs: Array[Int],
      flat: Array[Double], normSqrt: Array[Double], labels: Array[Long])

  /** Partial top-k candidate row (pre-merge). */
  private[graft] final case class ScoredPair(q_id: Long, c_id: Long, cos: Double)
  /** Label-aware partial row ([[Similarity.hardNegatives]]). */
  private[graft] final case class ScoredLabeled(q_id: Long, c_id: Long,
      c_label: Long, cos: Double)

  /** Corpus rows per cache tile: the query matrix streams from memory once
    * per TILE of corpus rows instead of once per row (64 rows × 512 B ≈
    * 32 KB of corpus resident in L1/L2 while |Q|·d·8 B streams past). */
  private val Tile = 64

  /** Default query-block size: 256 Ki queries ≈ 40 MB of heap state per
    * task at k=10 — safely inside executor memory; larger query sets pay
    * one extra corpus pass per block. */
  val DefaultMaxQueriesPerPass: Int = 1 << 18

  // --------------------------------------------------- serving-route budgets
  /** Default cap on the kernel's driver-side query collect, in DOUBLES
    * (|Q|·d): 2²⁸ doubles ≈ 2 GiB. The broadcast-join hint the kernel
    * replaced had the same driver-memory class, but it failed late and
    * unpredictably; the kernel enforces the bound UP FRONT — above it the
    * entry points take the shuffled join path, whose memory is
    * executor-distributed. Override per session via the
    * `graft.kernel.maxQueryDoubles` conf. */
  val DefaultMaxQueryDoubles: Long = 1L << 28

  /** Default small-corpus cutover, in corpus ROWS: below it the kernel's
    * fixed overhead (the eager collect job + the kernel job graph,
    * measured 0.3–1.3 s per exact pass at sf0.1 — BENCH_NOTES_r11) costs
    * more than the join-row iteration it saves, so the entry points serve
    * through the join path. 10⁴ sits between the sf0.1 gate corpora
    * (2×10³, where the join path wins) and the ×10 scale corpora (2×10⁴,
    * where the kernel's measured wins start). Override via the
    * `graft.kernel.minCorpusRows` conf (tests pin it to 0 to audit kernel
    * plan shapes on sf0.001 fixtures). */
  val DefaultMinCorpusRows: Long = 10000L

  private def confLong(df: DataFrame, key: String, dflt: Long): Long =
    df.sparkSession.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** Memoized route probe (corpus side only): the eligibility decision
    * runs real (thin, bounded) jobs, and serving gates re-pose the same
    * corpus frames many times per session — keyed by the analyzed plan
    * like the index memos ([[graft.ArtifactMemo]]), cleared with the
    * artifact tier.
    * The QUERY-side probe is deliberately NOT memoized: a plan-identical
    * query frame over a source that has since gained rows (growing
    * table/path) would reuse a stale |Q|·d measurement and let the driver
    * collect silently exceed `graft.kernel.maxQueryDoubles` — the exact
    * OOM the budget exists to prevent. A stale corpus memo only mis-picks
    * the ROUTE (join path vs kernel), never the driver's memory. */
  private def memoProbe(df: DataFrame, tag: String)(job: => Long): Long =
    graft.ArtifactMemo("kernelProbe", df, tag)(job)

  /** Total doubles in the query side's vector column — one thin aggregate
    * over `qv` only (column-pruned; linear in |Q|, which is exactly the
    * quantity being bounded). Re-measured on every routing decision (see
    * the memo note above): the budget is a memory-safety bound and must
    * reflect the frame's CURRENT row count, not the count at first probe. */
  private[graft] def queryDoubles(qVecs: DataFrame): Long =
    qVecs.agg(coalesce(sum(size(col("qv")).cast("long")), lit(0L)))
      .head().getLong(0)

  /** True iff the corpus has at least `n` rows — a `limit(n)` count, so
    * the probe reads at most n thin rows however large the corpus is
    * (never a full-corpus count to make a routing decision). A bound past
    * `Int.MaxValue` clamps the probe at Int.MaxValue rows, which can never
    * reach such an `n` — the route degrades to the join path instead of
    * `limit` throwing on a negative overflowed int at routing time. */
  private[graft] def corpusAtLeast(c: DataFrame, n: Long): Boolean =
    n <= 0L || memoProbe(c, s"atleast$n") {
      c.select(lit(1).as("one"))
        .limit(math.min(n, Int.MaxValue.toLong).toInt).count()
    } >= n

  /** The SIZE gate of the kernel route (the type gate is [[integral]]):
    * the corpus is big enough that the kernel's fixed overhead pays for
    * itself, AND the query matrix fits the driver-collect budget. The
    * fallback is therefore size-triggered, not only type-triggered — a
    * |Q|-proportional workload can never capsize the driver, it degrades
    * to the executor-distributed join path. NOTE these probes run real
    * jobs at DataFrame-CONSTRUCTION time (see the eager-evaluation note
    * on [[Similarity.cosineTopK]]). `qVecs` carries a single `qv`
    * array column. */
  private[graft] def kernelEligible(qVecs: DataFrame, corpus: DataFrame): Boolean =
    corpusAtLeast(corpus,
      confLong(corpus, "graft.kernel.minCorpusRows", DefaultMinCorpusRows)) &&
    queryDoubles(qVecs) <=
      confLong(qVecs, "graft.kernel.maxQueryDoubles", DefaultMaxQueryDoubles)

  private def sqrtNormFull(v: Array[Double]): Double = {
    var n = 0.0; var i = 0
    while (i < v.length) { val x = v(i); n += x * x; i += 1 }
    math.sqrt(n)
  }

  /** dot over min-length prefix in index order — the expression's loop. */
  private def dotPrefix(flat: Array[Double], off: Int, qLen: Int,
      c: Array[Double]): Double = {
    val n = math.min(qLen, c.length)
    var d = 0.0; var i = 0
    while (i < n) { d += flat(off + i) * c(i); i += 1 }
    d
  }

  /** Collect + flatten the query side. `q` is pre-projected to
    * (q_id long, qv array<double>[, q_label long]). Driver memory here is
    * BOUNDED by construction: every entry point routes through
    * [[kernelEligible]], which measures |Q|·d first and falls back to the
    * executor-distributed join path above the `graft.kernel.maxQueryDoubles`
    * budget — this collect only ever sees a frame already inside it. */
  private def collectBlock(q: DataFrame, labelAware: Boolean): Array[QBlock] = {
    val spark = q.sparkSession
    import spark.implicits._
    val rows: Array[(Long, Array[Double], Long)] =
      if (labelAware)
        q.select(col("q_id").as("_1"), col("qv").as("_2"), col("q_label").as("_3"))
          .as[(Long, Array[Double], Long)].collect()
      else
        q.select(col("q_id").as("_1"), col("qv").as("_2"))
          .as[(Long, Array[Double])].collect().map(t => (t._1, t._2, 0L))
    val nq = rows.length
    val ids = new Array[Long](nq)
    val offs = new Array[Int](nq + 1)
    val normSqrt = new Array[Double](nq)
    val labels = if (labelAware) new Array[Long](nq) else null
    var i = 0
    while (i < nq) {
      ids(i) = rows(i)._1
      offs(i + 1) = offs(i) + rows(i)._2.length
      normSqrt(i) = sqrtNormFull(rows(i)._2)
      if (labelAware) labels(i) = rows(i)._3
      i += 1
    }
    val flat = new Array[Double](offs(nq))
    i = 0
    while (i < nq) {
      System.arraycopy(rows(i)._2, 0, flat, offs(i), rows(i)._2.length)
      i += 1
    }
    Array(QBlock(ids, offs, flat, normSqrt, labels))
  }

  /** Split one collected block into ≤maxPerPass-sized sub-blocks. */
  private def splitBlock(b: QBlock, maxPerPass: Int): Array[QBlock] = {
    val nq = b.ids.length
    if (nq <= maxPerPass) return Array(b)
    (0 until nq by maxPerPass).map { start =>
      val end = math.min(start + maxPerPass, nq)
      val n = end - start
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i < n) { offs(i + 1) = offs(i) + (b.offs(start + i + 1) - b.offs(start + i)); i += 1 }
      val flat = new Array[Double](offs(n))
      System.arraycopy(b.flat, b.offs(start), flat, 0, offs(n))
      QBlock(b.ids.slice(start, end), offs, flat,
        b.normSqrt.slice(start, end),
        if (b.labels == null) null else b.labels.slice(start, end))
    }.toArray
  }

  // ------------------------------------------------------------- top-k
  // Per-query bounded accumulator: a flattened array min-heap keyed by
  // "badness" (cos asc, id desc) so the root is the eviction candidate.
  // Entries are unique per (q, c), so (cos desc, id asc) is a TOTAL order
  // and the per-partition top-k set is insertion-order-independent.

  // true iff candidate (s1, i1) ranks WORSE than (s2, i2). Scores compare
  // via Double.compare — the TOTAL order (NaN greatest, -0.0 < 0.0) the
  // downstream TopKByScore/TopKPerKey merges sort with; raw IEEE < / ==
  // would let a NaN or -0.0 cosine survive/evict differently in this
  // per-partition prefilter than in the merge on pathological inputs.
  // On normal doubles the two orders agree, so results are unchanged.
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1 > i2)
  }

  private final class Heaps(nq: Int, k: Int) {
    val score = new Array[Double](nq * k)
    val id = new Array[Long](nq * k)
    val size = new Array[Int](nq)

    def offer(qi: Int, cos: Double, cId: Long): Unit = {
      val base = qi * k
      val n = size(qi)
      if (n < k) {
        var j = n
        score(base + j) = cos; id(base + j) = cId
        while (j > 0 && worse(score(base + j), id(base + j),
            score(base + (j - 1) / 2), id(base + (j - 1) / 2))) {
          val p = (j - 1) / 2
          val ts = score(base + j); val ti = id(base + j)
          score(base + j) = score(base + p); id(base + j) = id(base + p)
          score(base + p) = ts; id(base + p) = ti
          j = p
        }
        size(qi) = n + 1
      } else if (worse(score(base), id(base), cos, cId)) {
        score(base) = cos; id(base) = cId
        var j = 0
        var done = false
        while (!done) {
          val l = 2 * j + 1; val r = l + 1
          var w = j
          if (l < k && worse(score(base + l), id(base + l), score(base + w), id(base + w))) w = l
          if (r < k && worse(score(base + r), id(base + r), score(base + w), id(base + w))) w = r
          if (w == j) done = true
          else {
            val ts = score(base + j); val ti = id(base + j)
            score(base + j) = score(base + w); id(base + j) = id(base + w)
            score(base + w) = ts; id(base + w) = ti
            j = w
          }
        }
      }
    }
  }

  /** Tile-buffered corpus traversal: pulls up to [[Tile]] rows, hands each
    * (query, tile) stripe to `perPair`. Norms are precomputed per corpus
    * row (index order — identical accumulation to the fused expression). */
  private def traverse(it: Iterator[(Long, Array[Double])], b: QBlock)(
      perPair: (Int, Long, Array[Double], Double) => Unit): Unit = {
    val nq = b.ids.length
    val tileIds = new Array[Long](Tile)
    val tileVecs = new Array[Array[Double]](Tile)
    val tileNorms = new Array[Double](Tile)
    while (it.hasNext) {
      var t = 0
      while (t < Tile && it.hasNext) {
        val (cId, cv) = it.next()
        tileIds(t) = cId; tileVecs(t) = cv; tileNorms(t) = sqrtNormFull(cv)
        t += 1
      }
      var qi = 0
      while (qi < nq) {
        var u = 0
        while (u < t) {
          if (tileIds(u) != b.ids(qi)) // self-pairs never reach scoring
            perPair(qi, tileIds(u), tileVecs(u), tileNorms(u))
          u += 1
        }
        qi += 1
      }
    }
  }

  @inline private def cosOf(b: QBlock, qi: Int, cv: Array[Double],
      cNormSqrt: Double): Double = {
    val off = b.offs(qi)
    val d = dotPrefix(b.flat, off, b.offs(qi + 1) - off, cv)
    val denom = b.normSqrt(qi) * cNormSqrt
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Per-partition exact top-k partials: (q_id, c_id, cos) rows, at most
    * |Q|·k per partition, containing each query's partition-local top-k
    * (a superset of its global top-k contribution). `q`/`c` pre-projected
    * to (q_id/c_id long, qv/cv array<double>). */
  private[graft] def topKPartials(q: DataFrame, c: DataFrame, k: Int,
      maxQueriesPerPass: Int = DefaultMaxQueriesPerPass): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val blocks = splitBlock(collectBlock(q, labelAware = false).head, maxQueriesPerPass)
    val corpus: Dataset[(Long, Array[Double])] =
      c.select(col("c_id").as("_1"), col("cv").as("_2")).as[(Long, Array[Double])]
    blocks.map { blk =>
      val bc = spark.sparkContext.broadcast(blk)
      corpus.mapPartitions { it =>
        val b = bc.value
        val nq = b.ids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else {
          val heaps = new Heaps(nq, k)
          traverse(it, b) { (qi, cId, cv, cNorm) =>
            heaps.offer(qi, cosOf(b, qi, cv, cNorm), cId)
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until heaps.size(qi)).iterator.map { s =>
              ScoredPair(b.ids(qi), heaps.id(qi * k + s), heaps.score(qi * k + s))
            }
          }
        }
      }.toDF("q_id", "c_id", "cos")
    }.reduce(_.unionByName(_))
  }

  /** Label-aware partials for [[Similarity.hardNegatives]]: the different-
    * label predicate runs INSIDE the kernel (same-label candidates never
    * reach the heap), and the surviving rows carry `c_label` through to
    * the TopKPerKey merge. */
  private[graft] def hardNegativePartials(q: DataFrame, c: DataFrame, k: Int,
      maxQueriesPerPass: Int = DefaultMaxQueriesPerPass): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val blocks = splitBlock(collectBlock(q, labelAware = true).head, maxQueriesPerPass)
    val corpus: Dataset[(Long, Array[Double], Long)] =
      c.select(col("c_id").as("_1"), col("cv").as("_2"), col("c_label").as("_3"))
        .as[(Long, Array[Double], Long)]
    blocks.map { blk =>
      val bc = spark.sparkContext.broadcast(blk)
      corpus.mapPartitions { it =>
        val b = bc.value
        val nq = b.ids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else {
          val heaps = new Heaps(nq, k)
          val heapLabels = new Array[Long](nq * k)
          val h = new LabeledHeaps(nq, k, heaps, heapLabels)
          val tileIds = new Array[Long](Tile)
          val tileVecs = new Array[Array[Double]](Tile)
          val tileNorms = new Array[Double](Tile)
          val tileLabels = new Array[Long](Tile)
          while (it.hasNext) {
            var t = 0
            while (t < Tile && it.hasNext) {
              val (cId, cv, cLabel) = it.next()
              tileIds(t) = cId; tileVecs(t) = cv
              tileNorms(t) = sqrtNormFull(cv); tileLabels(t) = cLabel
              t += 1
            }
            var qi = 0
            while (qi < nq) {
              var u = 0
              while (u < t) {
                if (tileIds(u) != b.ids(qi) && tileLabels(u) != b.labels(qi))
                  h.offer(qi, cosOf(b, qi, tileVecs(u), tileNorms(u)),
                    tileIds(u), tileLabels(u))
                u += 1
              }
              qi += 1
            }
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until heaps.size(qi)).iterator.map { s =>
              ScoredLabeled(b.ids(qi), heaps.id(qi * k + s),
                heapLabels(qi * k + s), heaps.score(qi * k + s))
            }
          }
        }
      }.toDF("q_id", "c_id", "c_label", "cos")
    }.reduce(_.unionByName(_))
  }

  /** [[Heaps]] with an extra long payload (the candidate label) mirrored
    * through every sift move. */
  private final class LabeledHeaps(nq: Int, k: Int, val inner: Heaps,
      labels: Array[Long]) {
    def offer(qi: Int, cos: Double, cId: Long, cLabel: Long): Unit = {
      val base = qi * k
      val n = inner.size(qi)
      val score = inner.score; val id = inner.id
      if (n < k) {
        var j = n
        score(base + j) = cos; id(base + j) = cId; labels(base + j) = cLabel
        while (j > 0 && worse(score(base + j), id(base + j),
            score(base + (j - 1) / 2), id(base + (j - 1) / 2))) {
          val p = (j - 1) / 2
          swap(base, j, p)
          j = p
        }
        inner.size(qi) = n + 1
      } else if (worse(score(base), id(base), cos, cId)) {
        score(base) = cos; id(base) = cId; labels(base) = cLabel
        var j = 0
        var done = false
        while (!done) {
          val l = 2 * j + 1; val r = l + 1
          var w = j
          if (l < k && worse(score(base + l), id(base + l), score(base + w), id(base + w))) w = l
          if (r < k && worse(score(base + r), id(base + r), score(base + w), id(base + w))) w = r
          if (w == j) done = true
          else { swap(base, j, w); j = w }
        }
      }
    }
    private def swap(base: Int, a: Int, bIx: Int): Unit = {
      val score = inner.score; val id = inner.id
      val ts = score(base + a); val ti = id(base + a); val tl = labels(base + a)
      score(base + a) = score(base + bIx); id(base + a) = id(base + bIx)
      labels(base + a) = labels(base + bIx)
      score(base + bIx) = ts; id(base + bIx) = ti; labels(base + bIx) = tl
    }
  }

  /** Exact radius matches: every (q, c) pair with cos ≥ minCos, raw cos
    * (callers round). Output-sized AND emission-streamed: matches leave
    * the task per corpus TILE (≤ |Q|·Tile rows buffered at once), never
    * accumulated for a whole partition — a low minCos over a large
    * partition must not concentrate its result set in task heap (the
    * join form it replaced streamed matches; this keeps that property). */
  private[graft] def rangePartials(q: DataFrame, c: DataFrame,
      minCos: Double,
      maxQueriesPerPass: Int = DefaultMaxQueriesPerPass): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val blocks = splitBlock(collectBlock(q, labelAware = false).head, maxQueriesPerPass)
    val corpus: Dataset[(Long, Array[Double])] =
      c.select(col("c_id").as("_1"), col("cv").as("_2")).as[(Long, Array[Double])]
    blocks.map { blk =>
      val bc = spark.sparkContext.broadcast(blk)
      corpus.mapPartitions { it =>
        val b = bc.value
        val nq = b.ids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else new Iterator[Iterator[ScoredPair]] {
          private val tileIds = new Array[Long](Tile)
          private val tileVecs = new Array[Array[Double]](Tile)
          private val tileNorms = new Array[Double](Tile)
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[ScoredPair] = {
            var t = 0
            while (t < Tile && it.hasNext) {
              val (cId, cv) = it.next()
              tileIds(t) = cId; tileVecs(t) = cv; tileNorms(t) = sqrtNormFull(cv)
              t += 1
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[ScoredPair]
            var qi = 0
            while (qi < nq) {
              var u = 0
              while (u < t) {
                if (tileIds(u) != b.ids(qi)) { // self-pairs never reach scoring
                  val cos = cosOf(b, qi, tileVecs(u), tileNorms(u))
                  if (cos >= minCos) out += ScoredPair(b.ids(qi), tileIds(u), cos)
                }
                u += 1
              }
              qi += 1
            }
            out.iterator
          }
        }.flatten
      }.toDF("q_id", "c_id", "cos")
    }.reduce(_.unionByName(_))
  }

  /** Pair row from the bucketed self-join kernel (raw cos; callers
    * round). */
  private[graft] final case class BucketPair(id1: Long, id2: Long, cosine: Double)

  /** Within-bucket all-pairs exact cosine ≥ threshold — the kernel form of
    * the LSH near-dup verify stage ([[Dedup.embeddingNearDups]]): the
    * bucketed self-equi-join materializes Σ_b |b|² join rows each paying
    * row-iteration overhead around one fused-cosine eval; here the corpus
    * shuffles ONCE on `bucket` (the same exchange the join needed anyway),
    * each bucket's rows buffer into primitive arrays, and an i<j tight
    * loop streams surviving pairs out. Pair orientation is canonical
    * (id1 < id2), bit-identical to the join's `cosineFast` either way —
    * IEEE multiply is commutative and both accumulations run in index
    * order. Input pre-projected to (bucket long, vec_id long,
    * v array<double>); output pairs carry the RAW cosine.
    *
    * Memory: one bucket's rows live in task memory at a time — the LSH
    * plane count bounds bucket fan-in the same way it bounds the join's
    * per-bucket quadratic cost; the standing-catalog tier (quarantine +
    * prefix-filter re-route) is the path for buckets that outgrow either
    * form. */
  private[graft] def bucketedSelfPairs(keyed: DataFrame,
      threshold: Double): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.select(col("bucket").cast("long").as("_1"),
        col("vec_id").cast("long").as("_2"), col("v").as("_3"))
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val norms = scala.collection.mutable.ArrayBuffer.empty[Double]
        var bucket = 0L
        def flush(): Iterator[BucketPair] = {
          val n = ids.length
          if (n < 2) { ids.clear(); vecs.clear(); norms.clear(); return Iterator.empty }
          val out = scala.collection.mutable.ArrayBuffer.empty[BucketPair]
          var i = 0
          while (i < n) {
            val vi = vecs(i); val ni = norms(i); val idi = ids(i)
            var j = i + 1
            while (j < n) {
              // duplicate vec_ids in one bucket must not emit an (id, id)
              // self-pair — the join path's strict id1 < id2 filter drops
              // them, and the caller's distinct() would not
              val idj = ids(j)
              if (idi != idj) {
                val vj = vecs(j)
                val m = math.min(vi.length, vj.length)
                var d = 0.0; var x = 0
                while (x < m) { d += vi(x) * vj(x); x += 1 }
                val denom = ni * norms(j)
                val cos = if (denom == 0.0) 0.0 else d / denom
                if (cos >= threshold) {
                  if (idi < idj) out += BucketPair(idi, idj, cos)
                  else out += BucketPair(idj, idi, cos)
                }
              }
              j += 1
            }
            i += 1
          }
          ids.clear(); vecs.clear(); norms.clear()
          out.iterator
        }
        new Iterator[Iterator[BucketPair]] {
          private var pending: Iterator[BucketPair] = Iterator.empty
          def hasNext: Boolean = it.hasNext || ids.nonEmpty
          def next(): Iterator[BucketPair] = {
            while (it.hasNext) {
              val (b, id, v) = it.next()
              if (ids.nonEmpty && b != bucket) {
                val flushed = flush()
                bucket = b; ids += id; vecs += v; norms += sqrtNormFull(v)
                return flushed
              }
              bucket = b; ids += id; vecs += v; norms += sqrtNormFull(v)
            }
            flush()
          }
        }.flatten
      }
      .toDF("id1", "id2", "cosine")
  }

  /** Cross-side pairs within equal keys — the kernel form of the bucket
    * equi-join between a standing catalog and an incremental batch
    * ([[Dedup.incrementalEmbeddingNearDups]]): the join materializes
    * Σ_b |all_b|·|batch_b| rows; here both sides shuffle once on `key`
    * (the exchanges the equi-join needed anyway), the RIGHT (batch) group
    * buffers into primitive arrays per key, and the left side streams
    * against it in tight loops. Emits canonical (id1 < id2) pairs with
    * cos ≥ threshold, raw cosine, left-id ≠ right-id. Symmetric
    * duplicates (both endpoints in both sides) surface exactly as the
    * join surfaced them — the caller's `.distinct()` folds them the same
    * way. Inputs pre-projected to (key long, id long, v array<double>). */
  private[graft] def keyedCrossPairs(left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame =
    sidedCrossPairs(
      left.select(col("key").as("k1"), lit(0L).as("k2"), lit(0L).as("cell"),
        col("id"), col("v")),
      right.select(col("key").as("k1"), lit(0L).as("k2"), col("id"), col("v")),
      threshold,
      // left-id ≠ right-id; both orientations may arrive (union-overlap
      // endpoints) — canonical emit + the caller's distinct fold them
      (_, _, lid, rid) => lid != rid)

  /** The quarantine hot-tier cell join as a kernel
    * ([[Dedup.embeddingNearDupsQuarantined]]): probe rows (each vector
    * duplicated at jcell ∈ {cell, cell+1}) cogroup with anchor rows on
    * (bucket, jcell); the anchor group buffers, probes stream, and the
    * join's dedup predicate (`cell ≠ jcell || id1 < id2` — same-cell
    * pairs once by id order, Δcell=1 pairs once via the +1 probe) runs
    * per pair in-loop. Canonical (least, greatest) orientation, raw
    * cosine ≥ threshold. Probe pre-projected to (bucket long, jcell long,
    * cell long, id long, v); anchor to (bucket long, jcell long, id long,
    * v). */
  private[graft] def cellCrossPairs(probe: DataFrame, anchor: DataFrame,
      threshold: Double): DataFrame =
    sidedCrossPairs(
      probe.select(col("bucket").as("k1"), col("jcell").as("k2"),
        col("cell"), col("id"), col("v")),
      anchor.select(col("bucket").as("k1"), col("jcell").as("k2"),
        col("id"), col("v")),
      threshold,
      // the cell join's dedup predicate: same-cell pairs once by id
      // order, Δcell=1 pairs once via the +1 probe (cell ≠ jcell)
      (cell, jcell, pid, aid) => cell != jcell || pid < aid)

  /** Shared engine for [[keyedCrossPairs]]/[[cellCrossPairs]]: both sides
    * union with a side tag, shuffle ONCE on the (k1, k2) key — the same
    * exchange the equi-joins planned — and a within-partition row sort
    * puts each key's RIGHT rows (side 0) before its LEFT rows (side 1),
    * so the kernel buffers the right group and streams left rows against
    * it with `pred(cellLeft, k2, leftId, rightId)` and the threshold
    * in-loop. Rows stay in Tungsten format until the kernel (the earlier
    * cogroup form serialized objects through its sort — measurably slower
    * at every scale). Emits canonical (least, greatest) raw-cosine
    * pairs. */
  private def sidedCrossPairs(left: DataFrame, right: DataFrame,
      threshold: Double,
      pred: (Long, Long, Long, Long) => Boolean): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val r = right.select(col("k1").as("_1"), col("k2").as("_2"),
      lit(0).as("_3"), lit(0L).as("_4"), col("id").as("_5"), col("v").as("_6"))
    val l = left.select(col("k1").as("_1"), col("k2").as("_2"),
      lit(1).as("_3"), col("cell").as("_4"), col("id").as("_5"), col("v").as("_6"))
    r.unionByName(l)
      .repartition(col("_1"), col("_2"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
      .as[(Long, Long, Int, Long, Long, Array[Double])]
      .mapPartitions { it =>
        val rIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        val rVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val rNorms = scala.collection.mutable.ArrayBuffer.empty[Double]
        var k1 = 0L; var k2 = 0L; var open = false
        new Iterator[Iterator[BucketPair]] {
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[BucketPair] = {
            val (a, b, side, cell, id, v) = it.next()
            if (!open || a != k1 || b != k2) {
              rIds.clear(); rVecs.clear(); rNorms.clear()
              k1 = a; k2 = b; open = true
            }
            if (side == 0) {
              rIds += id; rVecs += v; rNorms += sqrtNormFull(v)
              Iterator.empty
            } else if (rIds.isEmpty) Iterator.empty
            else {
              val nl = sqrtNormFull(v)
              val out = scala.collection.mutable.ArrayBuffer.empty[BucketPair]
              var j = 0
              while (j < rIds.length) {
                val rid = rIds(j)
                if (pred(cell, b, id, rid)) {
                  val rv = rVecs(j)
                  val m = math.min(v.length, rv.length)
                  var d = 0.0; var x = 0
                  while (x < m) { d += v(x) * rv(x); x += 1 }
                  val denom = nl * rNorms(j)
                  val cos = if (denom == 0.0) 0.0 else d / denom
                  if (cos >= threshold) {
                    if (id < rid) out += BucketPair(id, rid, cos)
                    else out += BucketPair(rid, id, cos)
                  }
                }
                j += 1
              }
              out.iterator
            }
          }
        }.flatten
      }
      .toDF("id1", "id2", "cosine")
  }

  /** One broadcast probe block: the distinct query matrix (same layout as
    * [[QBlock]]) plus, per centroid id, the indexes of the queries
    * probing it. */
  private[graft] final case class ProbeBlock(ids: Array[Long], offs: Array[Int],
      flat: Array[Double], normSqrt: Array[Double],
      centQueries: Map[Long, Array[Int]])

  private def collectProbes(probes: DataFrame): ProbeBlock = {
    val spark = probes.sparkSession
    import spark.implicits._
    val rows = probes.select(col("q_id").as("_1"), col("cent_id").as("_2"),
        col("qv").as("_3"))
      .as[(Long, Long, Array[Double])].collect()
    val qIdx = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val cents = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    rows.foreach { case (qid, cent, qv) =>
      // probe frames repeat each q_id once per probed centroid with the
      // SAME vector by construction, so folding to one entry per q_id is
      // exact. A q_id arriving with a DIFFERENT vector means the caller's
      // query frame carries duplicate ids — fail fast rather than rank a
      // mixture (the join path would silently interleave both vectors'
      // candidates under one key).
      val ix = qIdx.get(qid) match {
        case Some(i) =>
          require(java.util.Arrays.equals(vecs(i), qv),
            s"duplicate query id $qid with differing vectors — query ids " +
              "must be unique per vector")
          i
        case None => qIdx.put(qid, vecs.length); vecs += qv; vecs.length - 1
      }
      cents.getOrElseUpdate(cent, scala.collection.mutable.ArrayBuffer.empty) += ix
    }
    val nq = vecs.length
    val ids = qIdx.keys.toArray
    val offs = new Array[Int](nq + 1)
    val normSqrt = new Array[Double](nq)
    var i = 0
    while (i < nq) {
      offs(i + 1) = offs(i) + vecs(i).length
      normSqrt(i) = sqrtNormFull(vecs(i))
      i += 1
    }
    val flat = new Array[Double](offs(nq))
    i = 0
    while (i < nq) { System.arraycopy(vecs(i), 0, flat, offs(i), vecs(i).length); i += 1 }
    ProbeBlock(ids, offs, flat, normSqrt,
      cents.map { case (c, b) => c -> b.toArray }.toMap)
  }

  /** IVF probed-list exact scoring as a kernel
    * ([[Similarity.ivfTopKIndexed]]): the probes→lists expansion join
    * materialized |Q|·nProbe·(N/nc) candidate rows; here the probe table
    * broadcasts as a cent→queries map — the SAME broadcast the join hint
    * shipped — and the kernel streams the UNSHUFFLED inverted-lists scan,
    * scoring each member only against the queries probing its list into
    * per-query bounded heaps. Partials feed the unchanged
    * [[TopK.rankTopK]] merge; the inverted lists partition the corpus, so
    * each (q, c) pair is scored at most once globally and the
    * per-partition top-k is an exact partial. Probes pre-projected to
    * (q_id long, cent_id long, qv array<double>); inverted to
    * (cent_id long, c_id long, cv array<double>). */
  private[graft] def probedTopKPartials(probes: DataFrame,
      inverted: DataFrame, k: Int): DataFrame = {
    val spark = inverted.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectProbes(probes))
    inverted.select(col("cent_id").as("_1"), col("c_id").as("_2"),
        col("cv").as("_3"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val b = bc.value
        val nq = b.ids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else {
          val heaps = new Heaps(nq, k)
          it.foreach { case (cent, cId, cv) =>
            b.centQueries.get(cent) match {
              case Some(qIdxs) =>
                val ny = sqrtNormFull(cv)
                var u = 0
                while (u < qIdxs.length) {
                  val qi = qIdxs(u)
                  if (b.ids(qi) != cId) {
                    val off = b.offs(qi)
                    val d = dotPrefix(b.flat, off, b.offs(qi + 1) - off, cv)
                    val denom = b.normSqrt(qi) * ny
                    heaps.offer(qi, if (denom == 0.0) 0.0 else d / denom, cId)
                  }
                  u += 1
                }
              case None => ()
            }
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until heaps.size(qi)).iterator.map { s =>
              ScoredPair(b.ids(qi), heaps.id(qi * k + s), heaps.score(qi * k + s))
            }
          }
        }
      }.toDF("q_id", "c_id", "cos")
  }

  /** Radius variant of [[probedTopKPartials]] ([[Similarity
    * .ivfRangeIndexed]]): same probed traversal, matches with
    * cos ≥ minCos stream out output-sized (raw cosine; callers round). */
  private[graft] def probedRangePairs(probes: DataFrame,
      inverted: DataFrame, minCos: Double): DataFrame = {
    val spark = inverted.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectProbes(probes))
    inverted.select(col("cent_id").as("_1"), col("c_id").as("_2"),
        col("cv").as("_3"))
      .as[(Long, Long, Array[Double])]
      .mapPartitions { it =>
        val b = bc.value
        if (b.ids.isEmpty) Iterator.empty
        else it.flatMap { case (cent, cId, cv) =>
          b.centQueries.get(cent) match {
            case Some(qIdxs) =>
              val ny = sqrtNormFull(cv)
              val out = scala.collection.mutable.ArrayBuffer.empty[ScoredPair]
              var u = 0
              while (u < qIdxs.length) {
                val qi = qIdxs(u)
                if (b.ids(qi) != cId) {
                  val off = b.offs(qi)
                  val d = dotPrefix(b.flat, off, b.offs(qi + 1) - off, cv)
                  val denom = b.normSqrt(qi) * ny
                  val cos = if (denom == 0.0) 0.0 else d / denom
                  if (cos >= minCos) out += ScoredPair(b.ids(qi), cId, cos)
                }
                u += 1
              }
              out
            case None => Iterator.empty
          }
        }
      }.toDF("q_id", "c_id", "cos")
  }

  /** Broadcast per-query ADC tables ([[Similarity.pqTopKIndexed]]):
    * `ip(q)(sub)(code)` / `cn2(q)(sub)(code)` integer nano-unit tables
    * plus the query norm. */
  private[graft] final case class AdcBlock(ids: Array[Long],
      ip: Array[Array[Array[Long]]], cn2: Array[Array[Array[Long]]],
      qnorm: Array[Double])

  /** Plain-PQ ADC scoring as a kernel: the pivoted projection evaluated
    * one row per (q, c) pair — `graft_adc_fold` is a tight codegen loop,
    * but the |Q|·|C| row stream around it still dominates. The kernel
    * broadcasts the per-query tables (collected from the same pivot
    * aggregation the broadcast join shipped), streams the UNSHUFFLED
    * pivoted-codes scan, and folds both integer sums per pair in-loop.
    * Integer addition is exactly associative, so the sums — and the
    * reconstructed cosine, same guard and arithmetic as the `pqCos`
    * column — are bit-identical however the work is grouped. Partials
    * feed the unchanged k-bounded merge. `qtabs` pre-projected to
    * (q_id long, ip_tab array<array<long>>, cn2_tab array<array<long>>,
    * qnorm double); codes to (c_id long, codes array<int>). */
  private[graft] def adcTopKPartials(qtabs: DataFrame, pivotedCodes: DataFrame,
      k: Int): DataFrame = {
    val spark = pivotedCodes.sparkSession
    import spark.implicits._
    val rows = qtabs
      .select(col("q_id").as("_1"), col("ip_tab").as("_2"),
        col("cn2_tab").as("_3"), col("qnorm").as("_4"))
      .as[(Long, Array[Array[Long]], Array[Array[Long]], Double)].collect()
    val block = AdcBlock(rows.map(_._1), rows.map(_._2), rows.map(_._3),
      rows.map(_._4))
    val bc = spark.sparkContext.broadcast(block)
    pivotedCodes.select(col("c_id").as("_1"), col("codes").as("_2"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val b = bc.value
        val nq = b.ids.length
        if (nq == 0 || !it.hasNext) Iterator.empty
        else {
          val heaps = new Heaps(nq, k)
          it.foreach { case (cId, codes) =>
            var qi = 0
            while (qi < nq) {
              if (b.ids(qi) != cId) {
                val ip = b.ip(qi); val cn = b.cn2(qi)
                var ipSum = 0L; var cnSum = 0L
                var s = 0
                while (s < codes.length) {
                  val code = codes(s)
                  ipSum += ip(s)(code); cnSum += cn(s)(code)
                  s += 1
                }
                val qn = b.qnorm(qi)
                val cos =
                  if (cnSum > 0L && qn > 0.0)
                    (ipSum.toDouble / 1e9) / (qn * math.sqrt(cnSum.toDouble / 1e9))
                  else 0.0
                heaps.offer(qi, cos, cId)
              }
              qi += 1
            }
          }
          (0 until nq).iterator.flatMap { qi =>
            (0 until heaps.size(qi)).iterator.map { s =>
              ScoredPair(b.ids(qi), heaps.id(qi * k + s), heaps.score(qi * k + s))
            }
          }
        }
      }.toDF("q_id", "c_id", "cos")
  }

  /** True iff every listed column is an integral type (the kernel widens
    * ids/labels to long; non-integral frames take the join path). */
  private[graft] def integral(df: DataFrame, cols: String*): Boolean =
    cols.forall(n => df.schema(n).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    })
}
