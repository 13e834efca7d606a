package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Similarity, TextAnalysis}
import graft.sources.Tables

/** The library cache contract: internal persists register with
  * [[GraftCaches]], `unpersistAll` releases them, and caches the USER
  * created are never touched (the property `catalog.clearCache()` lacks).
  */
class GraftCachesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pipeline persists register; unpersistAll releases them, not user caches") {
    GraftCaches.unpersistAll() // isolate from earlier suites
    val userCache = Seq((1L, "user data")).toDF("id", "t").persist(StorageLevel.MEMORY_AND_DISK)
    userCache.count()

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different content here")).toDF("doc_id", "text")
    val before = GraftCaches.registeredCount()
    val top = TextAnalysis.tfidfTopTerms(docs, col("doc_id"), col("text"), 2)
    assert(top.count() > 0)
    assert(GraftCaches.registeredCount() > before,
      "tfidfTopTerms must register its internal persist")

    GraftCaches.unpersistAll()
    assert(GraftCaches.registeredCount() == 0)
    assert(userCache.storageLevel != StorageLevel.NONE,
      "unpersistAll must not evict caches the user created")
    userCache.unpersist(blocking = false)
  }

  test("persistedArtifactFresh: independent cache entry that survives the working tier and recomputes after release") {
    // the delta-append contract: the SAME batch frame is working-persisted
    // by the incremental-pairs pass, then becomes a standing-generation
    // member — the member must get its OWN cache entry (a same-plan
    // re-persist is a CacheManager no-op that dies with the working tier)
    // and must keep lineage (a lost block recomputes; a localCheckpoint
    // would fail unrecoverably)
    val working = GraftCaches.persisted(
      spark.range(0, 100).toDF("x").select(col("x"), (col("x") * 7).as("y")))
    working.count()
    val member = GraftCaches.persistedArtifactFresh(working)
    member.count()
    def cached = member.storageLevel != StorageLevel.NONE
    assert(cached,
      "the fresh-plan artifact persist must create its own cache entry")
    GraftCaches.unpersistAll(blocking = true) // working tier dies
    assert(cached,
      "the artifact entry must survive the working tier's unpersist")
    assert(member.count() == 100L)
    // lineage retained: after the artifact itself releases, the frame
    // still recomputes from source (the checkpoint path could not)
    GraftCaches.releaseArtifacts(blocking = true)
    assert(member.count() == 100L)
  }

  test("GenChain releases every collected frame as one unit") {
    val a = GraftCaches.persistedArtifact(spark.range(0, 10).toDF("a"))
    val b = GraftCaches.persistedArtifact(spark.range(10, 20).toDF("b"))
    a.count(); b.count()
    assert(a.storageLevel != StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
    GraftCaches.GenChain(Seq(a, b)).release(blocking = true)
    assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE)
    GraftCaches.releaseArtifacts(blocking = true) // registry entries are stale now; idempotent
  }

  test("persisted() caches at the requested level and survives re-registration") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    GraftCaches.persisted(df)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    GraftCaches.unpersistAll()
    assert(df.storageLevel == StorageLevel.NONE)
    // re-persist after release — the weak registry must accept it again
    GraftCaches.persisted(df, StorageLevel.MEMORY_ONLY)
    assert(df.storageLevel == StorageLevel.MEMORY_ONLY)
    GraftCaches.unpersistAll()
  }

  test("fill: one action fills every listed cache and returns each frame's row count") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def frames(k: Long) = Seq(
      GraftCaches.persisted(spark.range(0, 30 + k).toDF("a")),
      GraftCaches.persisted(spark.range(0, 7 + k).toDF("b").filter(col("b") > 2)),
      GraftCaches.persisted(spark.range(0, 5 + k).toDF("c").filter(col("c") > 99)))
    val sc = spark.sparkContext
    def jobsOf[T](body: => T): (T, Int) = {
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      TestListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try { val r = body; TestListenerBus.drain(sc); (r, jobs.get) }
      finally sc.removeSparkListener(listener)
    }
    val filled = frames(0L)
    assert(!filled.exists(GraftCaches.isFilled))
    val (counts, fillJobs) = jobsOf(GraftCaches.fill(filled: _*))
    assert(counts == Seq(30L, 4L, 0L))
    assert(filled.forall(GraftCaches.isFilled),
      "every listed cache must hold all of its blocks after the fill")
    val (_, countJobs) = jobsOf(frames(1L).map(_.count()))
    assert(fillJobs < countJobs,
      s"one fill ran $fillJobs jobs; three counts ran $countJobs")
    GraftCaches.unpersistAll(blocking = true)
  }

  test("ArtifactMemo: an equivalent plan hits; a different plan, parameter or session misses; releaseArtifacts empties it") {
    GraftCaches.releaseArtifacts(blocking = true)
    assert(ArtifactMemo.size() == 0)
    val dir = "/root/testdata/sf0.001"
    var builds = 0
    def memo(df: org.apache.spark.sql.DataFrame, p: Int): Int =
      ArtifactMemo("spec", df, p) { builds += 1; builds }
    val (h0, m0) = (ArtifactMemo.hits(), ArtifactMemo.misses())
    val first = memo(Tables.embeddings(spark, dir).select(col("vec_id").as("a")), 1)
    // a fresh read, differently aliased: canonically the same plan
    assert(memo(Tables.embeddings(spark, dir).select(col("vec_id").as("b")), 1)
      == first, "an equivalent re-aliased plan must hit")
    assert(memo(Tables.embeddings(spark, dir).select((col("vec_id") + 1).as("a")), 1)
      != first, "a different plan must miss")
    assert(memo(Tables.embeddings(spark, dir).select(col("vec_id").as("a")), 2)
      != first, "different parameters must miss")
    val clone = spark.newSession()
    assert(memo(Tables.embeddings(clone, dir).select(col("vec_id").as("a")), 1)
      != first, "the same plan in a newSession() clone must miss")
    assert(builds == 4 && ArtifactMemo.hits() - h0 == 1 &&
      ArtifactMemo.misses() - m0 == 4,
      s"counters moved by ${ArtifactMemo.hits() - h0} hits, " +
        s"${ArtifactMemo.misses() - m0} misses")
    assert(ArtifactMemo.size() >= 4)
    GraftCaches.releaseArtifacts(blocking = true)
    assert(ArtifactMemo.size() == 0, "releaseArtifacts must empty the memo")
    assert(memo(Tables.embeddings(spark, dir).select(col("vec_id").as("a")), 1)
      == 5, "after release the artifact builds afresh")
    GraftCaches.releaseArtifacts(blocking = true)
  }

  test("a fill cancelled mid-build leaves nothing behind: no running job, no memo entry, the next request builds afresh") {
    import java.util.concurrent.atomic.AtomicBoolean
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    GraftCaches.releaseArtifacts(blocking = true)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def index() = Similarity.ivfPqIndexFor(emb, nCentroids = 4,
      coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val sc = spark.sparkContext
    val cancelled = new AtomicBoolean(false)
    // fault injection: cancel the first job of the build's serving fill,
    // picked by its call site
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.map(_.details).mkString("\n")
        if (site.contains("GraftCaches$.fill") &&
            site.contains("buildIvfPqIndex") &&
            cancelled.compareAndSet(false, true))
          sc.cancelJob(e.jobId, "fault injection")
      }
    }
    val m0 = ArtifactMemo.misses()
    sc.addSparkListener(listener)
    try {
      intercept[Exception](index())
    } finally sc.removeSparkListener(listener)
    assert(cancelled.get, "no fill job of the build was seen")
    TestListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs still running after the failed build: " +
        sc.statusTracker.getActiveJobIds.mkString(","))
    val h0 = ArtifactMemo.hits()
    val ix = index()
    assert(ArtifactMemo.misses() == m0 + 2 && ArtifactMemo.hits() == h0,
      "the failed build must leave no memo entry: the retry is a miss")
    assert(ix.rows.contains(emb.count()))
    assert((index() eq ix) && ArtifactMemo.hits() == h0 + 1)
    GraftCaches.unpersistAll(blocking = true)
    GraftCaches.releaseArtifacts(blocking = true)
  }
}
