package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-lifetime registry of every DataFrame the graft pipelines
  * persist internally — the CLEANUP HANDLE for the library's cache
  * contract.
  *
  * Pipelines like `Dedup.minHashDedupPairs` or `TextAnalysis.tfidfTopTerms`
  * persist shared intermediates and return LAZY frames: they cannot
  * unpersist before the caller materializes, and eagerly materializing
  * inside the library would hide the plan from callers (and plan audits).
  * Previously callers had to `spark.catalog.clearCache()` between runs,
  * which also evicts caches the USER created. Registering every internal
  * persist here lets a long-lived session (notebook, Thrift server, the
  * bench/verify loops) release exactly the library's caches:
  *
  * {{{
  *   val top = TextAnalysis.tfidfTopTerms(docs, col("doc_id"), col("text"), 3)
  *   top.write.parquet(out)      // materializes; internal caches now dead
  *   GraftCaches.unpersistAll()  // releases them; user caches untouched
  * }}}
  *
  * Two tiers: WORKING caches (per-pipeline intermediates, released by
  * [[unpersistAll]] after each query) and ARTIFACTS (built-once/queried-
  * many structures like the ANN index, released only by
  * [[releaseArtifacts]] — see that section).
  *
  * References are STRONG deliberately: the internal frame object is
  * unreachable the moment the pipeline returns (only its plan survives
  * inside the returned frame), while Spark's CacheManager keeps the cached
  * data alive regardless — a weak ref would be collected and strand the
  * cache entry forever. The registry is the one place that can still reach
  * it; entries live only until the next `unpersistAll`, and each is a few
  * hundred bytes of wrapper object, not data. `unpersistAll` is async
  * (`blocking = false`) — block eviction proceeds in the background exactly
  * as with `DataFrame.unpersist()`.
  */
object GraftCaches {

  private val frames = new ConcurrentLinkedQueue[DataFrame]()
  private val artifacts = new ConcurrentLinkedQueue[DataFrame]()
  private val artifactHooks = new ConcurrentLinkedQueue[() => Unit]()
  private val ckpts = new ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  private val artifactCkpts = new ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  private val artifactScope = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Tracked `localCheckpoint`: checkpoint `df` and register the
    * checkpointed RDD so its storage blocks release DETERMINISTICALLY
    * with [[unpersistAll]] (or [[releaseArtifacts]] inside an
    * [[inArtifactScope]] build). A bare `Dataset.localCheckpoint` frees
    * its blocks only when the GC happens to collect the last plan
    * reference and ContextCleaner notices — at 100 TB an index build's
    * checkpoint is hundreds of GB of executor storage, and "whenever GC
    * runs" is not a release policy. NOTE the checkpoint contract:
    * lineage is truncated, so a released checkpoint frame cannot be
    * re-materialized — release happens only at the documented
    * end-of-query / end-of-index-life points, where nothing may read
    * these frames again. */
  def checkpointed(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ck = df.localCheckpoint(eager)
    ck.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(r => (if (artifactScope.get()) artifactCkpts else ckpts).add(r))
    ck
  }

  /** Run `f` with checkpoints registering in the ARTIFACT tier — index
    * builds use it so their training checkpoints (coarse centroids,
    * codebook, cross-terms) outlive per-query cleanup and release with
    * the index they serve. Thread-local: builds are driver-side and
    * single-threaded. */
  def inArtifactScope[T](f: => T): T = {
    val prev = artifactScope.get()
    artifactScope.set(true)
    try f finally artifactScope.set(prev)
  }

  /** Persist `df` at `level` (the library default MEMORY_AND_DISK — image
    * and shingle intermediates are bigger than memory at scale) and
    * register it for [[unpersistAll]]. Returns `df` for chaining. */
  def persisted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    frames.add(df)
    df
  }

  /** Unpersist every registered frame and clear the registry. Never
    * touches caches the user created directly.
    *
    * `blocking = true` waits for block removal — benchmark harnesses use
    * it so one query's cleanup cannot bleed into the next query's timed
    * region (async removal runs on executor threads and showed up as
    * 2-4x phantom regressions attributed to whichever query ran next). */
  def unpersistAll(blocking: Boolean = false): Unit = {
    var df = frames.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = frames.poll()
    }
    var r = ckpts.poll()
    while (r != null) {
      r.unpersist(blocking)
      r = ckpts.poll()
    }
  }

  /** Frames currently registered (persisted but not yet released) —
    * observability for tests and session debugging. */
  def registeredCount(): Int = frames.size()

  // ------------------------------------------------------------ artifacts
  /** ARTIFACT TIER: caches that deliberately OUTLIVE [[unpersistAll]] —
    * built-once / queried-many structures (the IVF-PQ ANN index). A
    * production pipeline builds an index in an offline job and serves
    * many queries from it; per-query cleanup must not evict it, or every
    * query silently pays a full re-train. Artifacts are released only by
    * [[releaseArtifacts]] (long-lived sessions call it when the
    * corpus/index generation rolls over; Bench/Verify call it at session
    * end). */
  def persistedArtifact(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    artifacts.add(df)
    artifactEvents.incrementAndGet()
    df
  }

  /** ARTIFACT-tier persist of a frame that may ALREADY be cached in the
    * working tier under the SAME logical plan — the delta-append batch
    * frames (staged once for the incremental-pairs pass, again as a
    * generation member). CacheManager keys entries by normalized plan, so
    * a direct re-persist is a silent no-op whose one shared entry then
    * DIES with the working tier's end-of-batch unpersist, evicting a
    * standing-index member. The trivial always-true filter gives the
    * artifact its own plan — its own cache entry — while keeping FULL
    * LINEAGE: unlike a localCheckpoint, a lost block recomputes from
    * source instead of failing unrecoverably mid-stream
    * (GraftCachesSpec pins the independent-entry behavior). */
  def persistedArtifactFresh(df: DataFrame): DataFrame =
    persistedArtifact(df.where(org.apache.spark.sql.functions.lit(true)))

  /** A releasable handle on one standing-index GENERATION CHAIN: with
    * delta appends, an index's member frames are lazy unions over the
    * base generation's standalone caches plus one batch-sized delta cache
    * per append — none of which may release while any successor serves
    * (shared lineage). The chain collects exactly those cached frames so
    * that when a POLICY CUTS a standalone generation (compaction,
    * re-band, rebuild), the whole superseded chain releases as one unit —
    * without it, every policy fire strands a corpus-sized cached chain in
    * executor storage for the life of the serving stream. */
  final case class GenChain(frames: Seq[DataFrame] = Nil) {
    def ++(more: Seq[DataFrame]): GenChain = GenChain(frames ++ more)
    def isEmpty: Boolean = frames.isEmpty
    def nonEmpty: Boolean = frames.nonEmpty
    def release(blocking: Boolean = false): Unit =
      frames.foreach(_.unpersist(blocking))
  }

  /** DURABLE CUT — materialize a standalone generation through a parquet
    * root instead of a localCheckpoint: write `df` to `path`, read it
    * back, artifact-persist and materialize. The serving streams use it
    * for policy-fired compactions (the r13 ADVICE finding): a
    * localCheckpoint cut has TRUNCATED lineage, so after the superseded
    * chain releases, an executor-loss recompute of the serving generation
    * is unrecoverable mid-stream — exactly the failure mode the
    * epoch-keyed survivor writes eliminated for delta appends. A
    * parquet-rooted cut recomputes from disk for the life of the stream
    * (and across restarts), and — unlike a lineage-bearing re-persist —
    * references NOTHING upstream, so the cut is also the moment
    * superseded epoch artifacts become safely prunable
    * ([[graft.streaming.IngestServing]] prunes them in the same roll).
    * `overwrite` keeps the write idempotent under foreachBatch retries
    * (callers key `path` by batch id). */
  def durableCut(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    val back = persistedArtifact(df.sparkSession.read.parquet(path))
    back.count()
    back
  }

  private val artifactEvents = new java.util.concurrent.atomic.AtomicLong(0L)

  /** MONOTONE count of artifact-tier persists since JVM start — the
    * observable that keeps the bench's setup/query boundary honest: after
    * the setup phase builds every standing structure, a SERVING query must
    * leave this counter unchanged (any increment means the query line is
    * silently absorbing a build the setup phase claims). SetupBoundarySpec
    * asserts it per serving query; unlike [[artifactCount]] it never
    * decreases on release, so a build-then-release inside a query cannot
    * hide. */
  def artifactBuildEvents(): Long = artifactEvents.get()

  /** Register a hook run by [[releaseArtifacts]] BEFORE frames unpersist —
    * builders use it to drop memo tables so no stale handle can serve a
    * released artifact. */
  def onArtifactRelease(hook: () => Unit): Unit = artifactHooks.add(hook)

  /** Release the artifact tier: run registered hooks (memo invalidation),
    * then unpersist every artifact frame. */
  def releaseArtifacts(blocking: Boolean = false): Unit = {
    artifactHooks.forEach(h => h())
    var df = artifacts.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = artifacts.poll()
    }
    var r = artifactCkpts.poll()
    while (r != null) {
      r.unpersist(blocking)
      r = artifactCkpts.poll()
    }
  }

  /** Artifact frames currently held — observability for tests. */
  def artifactCount(): Int = artifacts.size()

  /** Postfix form for pipeline chains: `frame.persistTracked()` ==
    * `GraftCaches.persisted(frame)`. */
  implicit final class Persistable(private val df: DataFrame) extends AnyVal {
    def persistTracked(
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      persisted(df, level)

    /** Postfix form of [[GraftCaches.checkpointed]]. */
    def localCheckpointTracked(eager: Boolean = true): DataFrame =
      checkpointed(df, eager)
  }
}
