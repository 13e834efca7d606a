package graft

import org.scalatest.funsuite.AnyFunSuite

/** The persist-leak contract, mechanized: a LONG-LIVED session (notebook,
  * Thrift server) that runs graft's heaviest cache-using pipelines
  * back-to-back and releases them through [[GraftCaches]] must return
  * storage EXACTLY to baseline — every internally-persisted frame
  * evicted and every training-time localCheckpoint block dropped, with
  * no reliance on GC timing. (Checkpoint blocks used to be freed only
  * when the GC collected the last plan reference and ContextCleaner
  * noticed; this spec caught the last index build's centroid/codebook/
  * cross-term blocks surviving rounds of release, which motivated
  * [[GraftCaches.checkpointed]] — deterministic, registry-tracked
  * release. At 100 TB an index build's checkpoints are hundreds of GB
  * of executor storage; "whenever GC runs" is not a release policy.)
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // the round-6 audit targets (shared-intermediate pipelines), the two
  // ANN training paths (localCheckpoint chains + the artifact index),
  // and the index-LIFECYCLE gates — roundtrip loads a fresh artifact set
  // per call and append unions new artifact generations, so they are the
  // likeliest accumulation paths in a long-lived session
  // (ann_auto_geometry covers the auto-memo path — counts the corpus,
  // builds at derived geometry with sampled training, memoizes;
  // minhash_incremental covers the standing dedup catalog + batch staging)
  private val heavyBatch = Seq("chunk_dup_stats", "sim_prefix_join",
    "source_dup_matrix", "ann_pq_topk", "ann_ivfpq_topk",
    "ann_index_roundtrip", "ann_index_append", "ann_auto_geometry",
    "minhash_incremental",
    // r9 lifecycle paths: quarantine (prefix-fallback persists), rebuild
    // policy (fresh artifact generation per call), composed ingest
    // (dedup catalog + append generation in one query), catalog roundtrip
    // (fresh loaded artifact set per call)
    "dedup_quarantine", "ann_rebuild_policy", "ingest_pipeline",
    "dedup_index_roundtrip", "ingest_pipeline_policy")

  /** Run one query exactly as Bench/Verify do: materialize through the
    * noop sink, then release the working tier. */
  private def runOne(name: String): Unit = {
    SparkEntry.queries(name)(spark, dir).write.format("noop")
      .mode("overwrite").save()
    GraftCaches.unpersistAll(blocking = true)
    assert(GraftCaches.registeredCount() == 0,
      s"$name left frames in the working-cache registry")
  }

  test("heavy cache-using queries back-to-back return storage to baseline") {
    // start from a clean slate (earlier suites share the session)
    GraftCaches.unpersistAll(blocking = true)
    GraftCaches.releaseArtifacts(blocking = true)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet

    for (round <- 1 to 3) {
      heavyBatch.foreach(runOne)
      // artifact tier: the IVF-PQ index must have survived the per-query
      // unpersistAll (that is its purpose), and releaseArtifacts must
      // actually drain it
      assert(GraftCaches.artifactCount() > 0,
        "the IVF-PQ index should be held as an artifact across queries")
      GraftCaches.releaseArtifacts(blocking = true)
      assert(GraftCaches.artifactCount() == 0, "artifact registry not drained")
      val leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
      assert(leftover.isEmpty,
        s"round $round storage leak: persistent RDD ids ${leftover.toSeq.sorted} " +
          s"survived release (${spark.sparkContext.getPersistentRDDs.view
            .filterKeys(leftover).values.map(_.toString).mkString(" | ")})")
    }
  }

  test("one memo: no TrieMap or onArtifactRelease outside ArtifactMemo/GraftCaches, no scala.concurrent under functions/") {
    // the build-once memo and the one-job fill are written once; a new
    // hand-written memo table or a detached-future fill in a family
    // would quietly reintroduce hash-keyed hits and orphaned jobs
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala").toPath
    assert(Files.isDirectory(root), s"source root not found: ${root.toAbsolutePath}")
    val owners = Set("graft/ArtifactMemo.scala", "graft/GraftCaches.scala")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20)
    val offenders = sources.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      val text = new String(Files.readAllBytes(f), "UTF-8")
      Seq(
        (!owners(rel) && text.contains("TrieMap")) -> s"$rel: TrieMap",
        (!owners(rel) && text.contains("onArtifactRelease(")) ->
          s"$rel: onArtifactRelease(",
        (rel.startsWith("graft/functions/") && text.contains("scala.concurrent")) ->
          s"$rel: scala.concurrent")
        .collect { case (true, what) => what }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
