package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.EventStreams

/** §2.J "roadmap realized": streaming results must equal the batch
  * definition on the same (bounded) input. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("tumbling-window stream over the events file source equals the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val batch = EventStreams.tumblingCounts(Tables.events(spark, dir))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // the file stream source wants a DIRECTORY; stage the single parquet file
    val streamDir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventStreams.startTumblingStream(spark, streamDir.toString, "t_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("t_stream_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sliding-window stream equals the batch aggregate (every event in 2 windows)") {
    val dir = "/root/testdata/sf0.001"
    val batchRows = EventStreams.slidingCounts(Tables.events(spark, dir)).collect()
    val batch = batchRows
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // overlap sanity: the sliding expansion doubles the event mass
    val nEvents = Tables.events(spark, dir).count()
    assert(batchRows.map(_.getLong(2)).sum == 2 * nEvents)
    val streamDir = java.nio.file.Files.createTempDirectory("events_sliding_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventStreams.startSlidingStream(spark, streamDir.toString, "w5_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("w5_stream_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static join equals the batch enrichment (no join state needed)") {
    val dir = "/root/testdata/sf0.001"
    val nation = Tables.nation(spark, dir)
    val batch = EventStreams.typeCountsByNation(Tables.events(spark, dir), nation)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val streamDir = java.nio.file.Files.createTempDirectory("events_static_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventStreams.startStreamStaticJoin(spark, streamDir.toString, nation,
      "w6_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("w6_stream_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("within-watermark dedup stream equals the batch dedup on redelivered input") {
    val dir = "/root/testdata/sf0.001"
    // batch truth over the CLEAN table (dedup must undo redelivery exactly)
    val clean = EventStreams.dedupedTypeCounts(Tables.events(spark, dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    // stream input = events file + a second file of re-delivered rows
    val streamDir = java.nio.file.Files.createTempDirectory("events_dedup_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") % 10 === 0)
      .write.parquet(streamDir.resolve("redelivered").toString)
    // file source reads nested dirs? no — flatten the redelivered part files
    val redeliveredDir = streamDir.resolve("redelivered")
    java.nio.file.Files.list(redeliveredDir).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, streamDir.resolve("redelivered_" + p.getFileName))
    }
    val q = EventStreams.startDedupStream(spark, streamDir.toString, "dedup_stream_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_stream_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(streamed == clean)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch attribution join") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val batch = EventStreams.clickViewAttribution(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"), horizon = "6 hours")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamDir = java.nio.file.Files.createTempDirectory("events_join_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val q = EventStreams.startAttributionStream(spark, streamDir.toString,
      "attr_stream_test", horizon = "6 hours")
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty, "fixture produced no attribution pairs — widen the horizon")
    } finally q.stop()
  }

  test("foreachBatch PNG sink: exactly-once per file, idempotent under redelivery, equals batch sink") {
    import java.nio.file.{Files, Paths}
    import graft.operators.SlicePipeline
    val base = Files.createTempDirectory("png_sink_stream")
    val dcm = base.resolve("dcm").toString
    val png = base.resolve("png").toString
    val ckpt = base.resolve("ckpt").toString
    SlicePipeline.writeDicomFixtures(spark, 8, dcm)
    Files.write(Paths.get(dcm, "img_000003.dcm"), "garbage".getBytes("UTF-8"))

    SlicePipeline.startStreamingPngSink(spark, dcm, png, ckpt).awaitTermination()
    def snapshot(): Map[String, Seq[Byte]] = {
      val d = new java.io.File(png)
      d.listFiles().filter(_.getName.endsWith(".png"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val first = snapshot()
    assert(first.keySet == (0 until 8).filter(_ != 3).map(i => f"img_$i%06d.png").toSet,
      "one PNG per decodable input; corrupt input dropped (C3)")

    // exactly-once: re-running against the SAME checkpoint finds no new
    // files to process and changes nothing
    SlicePipeline.startStreamingPngSink(spark, dcm, png, ckpt).awaitTermination()
    assert(snapshot() == first, "same-checkpoint rerun must be a no-op")

    // redelivery: a FRESH checkpoint re-delivers every batch — the
    // idempotent atomic-replace sink must leave byte-identical output
    SlicePipeline.startStreamingPngSink(spark, dcm, png,
      base.resolve("ckpt2").toString).awaitTermination()
    assert(snapshot() == first, "redelivered batches must rewrite identical bytes")

    // parity: the batch B1 sink writes the same bytes
    val pngBatch = base.resolve("png_batch").toString
    SlicePipeline.writeWindowedPngs(spark, dcm, pngBatch)
    val batchFiles = new java.io.File(pngBatch).listFiles()
      .filter(_.getName.endsWith(".png"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    assert(batchFiles == first, "stream sink must equal batch sink byte-for-byte")
  }

  test("session windows: gap splits sessions, events within gap merge") {
    import spark.implicits._
    val events = Seq(
      (1L, "2026-01-01 10:00:00", 1.0),
      (1L, "2026-01-01 10:10:00", 2.0),  // same session (10 min < 30 min gap)
      (1L, "2026-01-01 12:00:00", 3.0),  // new session
      (2L, "2026-01-01 10:05:00", 4.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val sessions = EventStreams.sessionCounts(events, "30 minutes")
      .orderBy("user_id", "session_start").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getAs[Long]("n_events") == 2) // user 1, first session
    assert(sessions(1).getAs[Long]("n_events") == 1)
    assert(sessions(2).getAs[Long]("n_events") == 1)
  }

  test("streaming ANN serving over a built index equals batch serving, across micro-batches") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
    val index = graft.functions.Similarity.buildIvfPqIndex(emb,
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batch = graft.functions.Similarity
      .ivfPqTopKIndexed(queries, index, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // stage the queries as TWO files; maxFilesPerTrigger=1 forces two
    // separate micro-batches, so the equality below proves per-batch
    // serving composes (not just the trivial single-batch case)
    val qDir = java.nio.file.Files.createTempDirectory("ann_q_stream").toString
    val outDir = java.nio.file.Files.createTempDirectory("ann_q_out").toString + "/res"
    queries.repartition(2).write.mode("overwrite").parquet(qDir)
    val q = graft.streaming.AnnServing.startServingStream(
      spark, qDir, index, k = 3, nProbe = 2, outDir)
    try {
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch,
        s"stream-served != batch-served: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("append-while-serving: delta generation rolls under a live stream; a compaction cut releases the superseded chain") {
    import java.nio.file.Files
    import org.apache.spark.storage.StorageLevel
    import graft.functions.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qA = emb.filter(col("vec_id") % 20 === 0).select(col("vec_id"), col("embedding"))
    val qB = emb.filter(col("vec_id") % 20 === 10).select(col("vec_id"), col("embedding"))
    val qC = emb.filter(col("vec_id") % 20 === 5).select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    // generation 1 trains on the 80% split; the other 20% appends mid-stream
    val g1 = Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val truthA = rows(Similarity.ivfPqTopKIndexed(qA, g1, k = 3, nProbe = 2))
    val qDir = Files.createTempDirectory("ann_roll_q").toString
    val outDir = Files.createTempDirectory("ann_roll_out").toString + "/res"
    qA.coalesce(1).write.mode("append").parquet(qDir)
    val ref = new java.util.concurrent.atomic.AtomicReference((g1, 2))
    val q = graft.streaming.AnnServing.startServingStreamOp(
      spark, qDir, ref, k = 3, outDir)
    try {
      q.processAllAvailable() // batch 1 serves generation 1
      // ROLLOVER while the stream is live: append generation 2 through the
      // frozen quantizers and swap the served reference — nothing
      // releases, g2's members are lazy unions over g1's caches
      val g2 = Similarity.ivfPqIndexAppend(g1, emb.filter(col("vec_id") % 5 === 0))
      val truthB = rows(Similarity.ivfPqTopKIndexed(qB, g2, k = 3, nProbe = 2))
      val truthC = rows(Similarity.ivfPqTopKIndexed(qC, g2, k = 3, nProbe = 2))
      ref.set((g2, 2))
      // the superseded generation stays resident: it rides g2's chain
      assert(g1.corpus.storageLevel != StorageLevel.NONE
        && g1.assigned.storageLevel != StorageLevel.NONE
        && g1.codes.storageLevel != StorageLevel.NONE,
        "an appended generation's predecessor must stay cached")
      assert(Seq(g1.corpus, g1.assigned, g1.codes).forall(g2.chain.frames.contains)
        && g2.chain.frames.forall(_.storageLevel != StorageLevel.NONE),
        "g2's chain must hold g1's data caches and its own cached deltas")
      assert(g2.centroids eq g1.centroids,
        "generations share the frozen coarse quantizer frame")
      qB.coalesce(1).write.mode("append").parquet(qDir)
      q.processAllAvailable() // batch 2 serves generation 2
      // CUT: compaction returns a standalone generation; after the swap
      // the pre-cut chain is unread by any live handle and releases
      val g3 = g2.compact()
      assert(g3.chain.isEmpty, "compaction must cut a standalone generation")
      ref.set((g3, 2))
      g2.release(blocking = true)
      assert(g2.chain.frames.forall(_.storageLevel == StorageLevel.NONE),
        "the released chain must hold no data-tier cache")
      assert(rows(Similarity.ivfPqTopKIndexed(qB, g3, k = 3, nProbe = 2)) == truthB,
        "the cut successor must serve exactly what g2 served")
      qC.coalesce(1).write.mode("append").parquet(qDir)
      q.processAllAvailable() // batch 3 serves the cut generation
      val streamed = rows(spark.read.parquet(outDir))
      // pre-roll rows ≡ batch serving on g1, post-roll rows ≡ batch
      // serving on the GROWN index (before and after the cut) — the full
      // output is their union
      val truth = truthA ++ truthB ++ truthC
      assert(streamed == truth,
        s"rollover stream != per-generation batch truth: " +
          s"${streamed.diff(truth)} vs ${truth.diff(streamed)}")
      // the appended 20% really is servable post-roll: across 25 queries ×
      // top-3, at least one result comes from appended ids (vec_id%5==0)
      assert(truthB.exists(_._3 % 5 == 0),
        "no appended vector reached any post-roll top-k — append not served")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("rebuild-policy rollover under a live stream: geometry AND operating point roll together") {
    import java.nio.file.Files
    import org.apache.spark.storage.StorageLevel
    import graft.functions.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val qA = emb.filter(col("vec_id") % 20 === 0).select(col("vec_id"), col("embedding"))
    val qB = emb.filter(col("vec_id") % 20 === 10).select(col("vec_id"), col("embedding"))
    // stale lineage: 4-list base on the 80% split, 20% appended through
    // frozen quantizers — the 50-vector corpus wants 16 ≥ 1.3×4 lists
    val base = Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val grown = Similarity.ivfPqIndexAppend(base, emb.filter(col("vec_id") % 5 === 0))
    val truthA = Similarity.ivfPqTopKIndexed(qA, grown, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val qDir = Files.createTempDirectory("ann_regeo_q").toString
    val outDir = Files.createTempDirectory("ann_regeo_out").toString + "/res"
    qA.coalesce(1).write.mode("append").parquet(qDir)
    val opRef = new java.util.concurrent.atomic.AtomicReference((grown, 2))
    val q = graft.streaming.AnnServing.startServingStreamOp(
      spark, qDir, opRef, k = 3, outDir)
    try {
      q.processAllAvailable() // batch 1 serves the stale generation
      // POLICY mid-stream: drift fires, the corpus rebuilds at auto
      // geometry, and the (index, nProbe) PAIR rolls atomically
      val (rebuilt, np2, fired) = Similarity.ivfPqRebuildIfStale(grown, m = 4, ksub = 8)
      assert(fired, "geometry drift (4 lists vs auto) must fire the policy")
      val (ncWant, _) = Similarity.autoGeometry(grown.corpus.count())
      assert(rebuilt.centroids.count() == ncWant && grown.centroids.count() == 4,
        "rebuild must re-train the coarse quantizer at the derived geometry")
      val truthB = Similarity.ivfPqTopKIndexed(qB, rebuilt, k = 3, nProbe = np2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      opRef.set((rebuilt, np2))
      grown.release(blocking = true)
      assert(grown.corpus.storageLevel == StorageLevel.NONE
        && grown.codes.storageLevel == StorageLevel.NONE,
        "superseded generation must hold no data-tier cache")
      assert(rebuilt.corpus.storageLevel != StorageLevel.NONE,
        "rebuilt generation must stay resident (its frames materialized at build)")
      qB.coalesce(1).write.mode("append").parquet(qDir)
      q.processAllAvailable() // batch 2 serves the rebuilt geometry
      val streamed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == truthA ++ truthB,
        s"regeometry stream != per-generation batch truth: " +
          s"${streamed.diff(truthA ++ truthB)} vs ${(truthA ++ truthB).diff(streamed)}")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("streaming ingest dedup: per-batch pairs union to the full run restricted to streamed docs") {
    import java.nio.file.Files
    import graft.functions.Dedup
    import spark.implicits._
    // 20 docs in near-dup pairs (2k, 2k+1); corpus = 80% (id%5!=0),
    // stream = the other 20% in TWO batches (id%10==0, then id%10==5)
    val docs = (0L until 20L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo${i / 2}"
      (i, if (i % 2 == 0) base else base + " lima")
    }.toDF("doc_id", "text")
    val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
        numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(expected.nonEmpty, "fixture must yield streamed-doc pairs")
    GraftCaches.unpersistAll()
    val index0 = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val docDir = Files.createTempDirectory("dedup_stream_in").toString
    val outDir = Files.createTempDirectory("dedup_stream_out").toString + "/pairs"
    val ref = new java.util.concurrent.atomic.AtomicReference(index0)
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("append").parquet(docDir)
    val q = graft.streaming.DedupServing.startDedupStream(
      spark, docDir, ref, threshold = 0.5, outDir)
    try {
      q.processAllAvailable() // batch 1: vs corpus + within itself
      docs.filter(col("doc_id") % 10 === 5).coalesce(1)
        .write.mode("append").parquet(docDir)
      q.processAllAvailable() // batch 2: vs corpus AND batch 1
      val streamed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == expected,
        s"stream-deduped != restricted full run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
      // the rolled index now contains every doc: one more incremental call
      // matches against corpus AND both streamed batches
      val probe = Seq((100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo0"))
        .toDF("doc_id", "text")
      val inc = Dedup.incrementalMinHashPairs(ref.get(), probe,
          col("doc_id"), col("text"), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc.contains((0L, 100L)) && inc.contains((1L, 100L)),
        "post-stream index must hold the streamed docs")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("ingest dedup restart with checkpointLocation: committed batches are not reprocessed") {
    import java.nio.file.Files
    import graft.functions.Dedup
    import spark.implicits._
    val docs = (0L until 20L).map { i =>
      val base = s"zulu alpha beta gamma delta epsilon zeta eta theta iota k${i / 2}"
      (i, if (i % 2 == 0) base else base + " lambda")
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val index0 = Dedup.buildDedupIndex(corpus, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    val docDir = Files.createTempDirectory("dedup_ckpt_in").toString
    val ckptDir = Files.createTempDirectory("dedup_ckpt_meta").toString
    val outDir = Files.createTempDirectory("dedup_ckpt_out").toString + "/pairs"
    val ref = new java.util.concurrent.atomic.AtomicReference(index0)
    val batch1 = docs.filter(col("doc_id") % 10 === 0)
    batch1.coalesce(1).write.mode("append").parquet(docDir)
    val q1 = graft.streaming.DedupServing.startDedupStream(
      spark, docDir, ref, threshold = 0.5, outDir,
      checkpointLocation = Some(ckptDir))
    q1.processAllAvailable(); q1.stop()
    val afterB1 = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterB1.nonEmpty)
    // RESTART: per the documented contract the driver-side index state is
    // rebuilt from the accepted corpus snapshot (corpus + batch 1); the
    // checkpoint must resume AFTER the committed batch-1 file — a
    // checkpoint-less restart would replay it and crash-loop the strict
    // id-hygiene guard against exactly this rebuilt index.
    ref.get().release()
    GraftCaches.unpersistAll(blocking = true)
    val rebuilt = Dedup.buildDedupIndex(corpus.unionByName(batch1),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    ref.set(rebuilt)
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(docDir)
    val q2 = graft.streaming.DedupServing.startDedupStream(
      spark, docDir, ref, threshold = 0.5, outDir,
      checkpointLocation = Some(ckptDir))
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty,
        s"restart replayed a committed batch into the strict guard: ${q2.exception}")
      val streamed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      assert(streamed == expected,
        s"restart output != restricted full run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
    } finally {
      q2.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("ingest dedup with tolerateReplays: a replayed file neither crashes the stream nor duplicates pairs") {
    import java.nio.file.Files
    import graft.functions.Dedup
    import spark.implicits._
    val docs = (0L until 10L).map { i =>
      val base = s"november oscar papa quebec romeo sierra tango uniform victor whiskey x${i / 2}"
      (i, if (i % 2 == 0) base else base + " yankee")
    }.toDF("doc_id", "text")
    val index0 = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val docDir = Files.createTempDirectory("dedup_replay_in").toString
    val outDir = Files.createTempDirectory("dedup_replay_out").toString + "/pairs"
    val ref = new java.util.concurrent.atomic.AtomicReference(index0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    batch.coalesce(1).write.mode("append").parquet(docDir)
    val q = graft.streaming.DedupServing.startDedupStream(
      spark, docDir, ref, threshold = 0.5, outDir, tolerateReplays = true)
    try {
      q.processAllAvailable() // batch 1: fresh ingest
      val first = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(first.nonEmpty, "fresh batch must emit its near-dup pairs")
      val indexedAfterFirst = ref.get().staged.count()
      // REPLAY: the same doc set arrives again as a new file (at-least-once
      // delivery / an upstream writer retry). The strict path would throw
      // on the id clash and crash-loop; the tolerant path must drop the
      // already-indexed rows before staging.
      batch.coalesce(1).write.mode("append").parquet(docDir)
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"replayed batch killed the stream: ${q.exception}")
      val afterReplay = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(afterReplay.toSet == first && afterReplay.size == first.size,
        "a replayed batch must add no pair rows (its docs are already indexed)")
      assert(ref.get().staged.count() == indexedAfterFirst,
        "a replayed batch must not grow the index")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("composed ingest restart with checkpointLocation: driver state rebuilt from snapshots, committed batches not replayed") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("ingest_ckpt_in").toString
    val ckptDir = Files.createTempDirectory("ingest_ckpt_meta").toString
    val pairsDir = Files.createTempDirectory("ingest_ckpt_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    val b2 = ingest.filter(col("doc_id") % 10 === 5)
    b1.coalesce(1).write.mode("append").parquet(batchDir)
    val q1 = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      checkpointLocation = Some(ckptDir))
    q1.processAllAvailable(); q1.stop()
    val pairsAfterB1 = spark.read.parquet(pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAfterB1.nonEmpty)
    // RESTART: per the documented contract both driver-side index states
    // rebuild from their corpus snapshots — the dedup catalog from the
    // SEEN corpus (standing + whole batch 1), the ANN index from the
    // ACCEPTED corpus (standing + batch-1 survivors) at the geometry the
    // policy had rolled to. The checkpoint must then resume AFTER the
    // committed batch-1 file: a checkpoint-less restart would replay it
    // into the strict id-hygiene guards of BOTH appends and crash-loop.
    val b1d = b1.select(col("doc_id"), col("text"))
    val pairs1 = Dedup.incrementalMinHashPairs(dedup0, b1d,
      col("doc_id"), col("text"), threshold = 0.5)
    val survivors1 = b1
      .join(IngestServing.keepFirstDropped(pairs1, b1d), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val (annSnap, npSnap, _) = Similarity.ivfPqRebuildIfStale(
      Similarity.ivfPqIndexAppend(ann0, survivors1),
      m = 4, ksub = 8, coarseIters = 1, pqIters = 1)
    dedupRef.get().release()
    GraftCaches.unpersistAll(blocking = true)
    val dedupSnap = Dedup.buildDedupIndex(
      corpus.select(col("doc_id"), col("text")).unionByName(b1d),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    dedupRef.set(dedupSnap)
    annOpRef.set((annSnap, npSnap))
    b2.coalesce(1).write.mode("append").parquet(batchDir)
    val q2 = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      checkpointLocation = Some(ckptDir))
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty,
        s"restart replayed a committed batch into the id guards: ${q2.exception}")
      // pair contract holds across the restart boundary
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      val streamed = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected,
        s"restart pair output != restricted full run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
      // both standing structures carried through: catalog holds every seen
      // doc; the accepted ANN corpus is standing + exactly the keep-first
      // survivors of both batches (dropped set derived driver-side from
      // the restricted pair set + the seen order standing → b1 → b2)
      assert(dedupRef.get().staged.count() == docs.count())
      def seenBefore(cand: Long, other: Long): Boolean =
        other % 5 != 0 || (other % 10 == 0 && cand % 10 == 5) ||
          (other % 10 == cand % 10 && other < cand)
      val dropped = streamed.flatMap { case (a, b) =>
        Seq((a, b), (b, a)).collect {
          case (c, o) if c % 5 == 0 && seenBefore(c, o) => c
        }
      }
      val annIds = annOpRef.get()._1.corpus.select(col("c_id"))
        .collect().map(_.getLong(0)).toSet
      val allIds = docs.collect().map(_.getLong(0)).toSet
      assert(annIds == allIds.filter(i => i % 5 != 0 || !dropped.contains(i)),
        "restarted pipeline's accepted corpus must be standing + survivors")
    } finally {
      q2.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("banding policy fires mid-stream: a legacy-banded catalog re-bands on batch 1 and serving stays exact") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    // LEGACY standing catalog: 8 bands × 4 rows — autoBanding of any
    // count at this scale derives 16×2, so the banding policy fires on
    // the FIRST micro-batch (the composed test's 16×2 catalog pins the
    // pass-through arm; this one pins the fire arm)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 8, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("ingest_band_in").toString
    val pairsDir = Files.createTempDirectory("ingest_band_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val batch = ingest.filter(col("doc_id") % 5 === 0)
    batch.coalesce(1).write.mode("append").parquet(batchDir)
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8)
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"ingest stream died: ${q.exception}")
      // the rolled catalog carries the DERIVED banding, not the legacy one
      val rolled = dedupRef.get()
      assert(rolled.numHashes == 32 && rolled.nBands == 16,
        s"banding policy must have re-banded 8→16 mid-stream, " +
          s"got ${rolled.numHashes}×${rolled.nBands / rolled.numHashes}")
      assert(rolled.staged.count() == docs.count(),
        "re-banded catalog must still hold every seen doc")
      // pair output came from the LEGACY banding (the batch deduped
      // against the catalog as it stood), so compare against an 8-band
      // full run's restriction — banding affects candidate recall, and
      // the contract is exactness wrt the SERVING-time banding
      val full8 = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 8, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = full8.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      val streamed = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == expected,
        s"fire-arm pairs != 8-band restricted full run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
      // a FOLLOW-UP incremental against the rolled catalog behaves as a
      // fresh 16×2 build over the same seen corpus would
      val probe = Seq((1000L, docs.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0)))
      import spark.implicits._
      val probeDf = probe.toDF("doc_id", "text")
      val viaRolled = Dedup.incrementalMinHashPairs(rolled, probeDf,
          col("doc_id"), col("text"), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fresh = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
        numHashes = 32, nBands = 16, shingleK = 3)
      val viaFresh = Dedup.incrementalMinHashPairs(fresh, probeDf,
          col("doc_id"), col("text"), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaRolled == viaFresh && viaRolled.contains((0L, 1000L)),
        s"post-roll serving diverged from a fresh derived-banding build: " +
          s"$viaRolled vs $viaFresh")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("composed ingest stream: dedup pairs, keep-first survivors, ANN append + rebuild policy all roll per batch") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    // standing state on the 80% split: dedup catalog + a DELIBERATELY
    // coarse 4-list ANN index, so the rebuild policy fires on batch 1
    // (450 accepted vectors want nc=21 ≥ 1.3×4) and passes through on
    // batch 2 (nc stays ~21..22 < 1.3×21) — both policy arms execute
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("ingest_stream_in").toString
    val pairsDir = Files.createTempDirectory("ingest_stream_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    val b2 = ingest.filter(col("doc_id") % 10 === 5)
    b1.coalesce(1).write.mode("append").parquet(batchDir)
    val target = spark.sessionState.conf.numShufflePartitions
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      compactMaxPartitions = Some(target))
    try {
      q.processAllAvailable() // batch 1: dedup + append + rebuild fires
      b2.coalesce(1).write.mode("append").parquet(batchDir)
      q.processAllAvailable() // batch 2: dedup + append, policy passes
      assert(q.exception.isEmpty, s"ingest stream died: ${q.exception}")
      // the compaction policy bounds scheduling width under the stream:
      // each append concatenates batch partitions, so without a merge the
      // width would exceed the bound after two batches (serving equality
      // below holds regardless — compaction is content-preserving)
      val (annW, _) = annOpRef.get()
      assert(Seq(annW.corpus, annW.assigned, annW.codes)
          .map(_.rdd.getNumPartitions).max <= target,
        "post-drain ANN width must sit within the compaction bound")
      assert(math.max(dedupRef.get().staged.rdd.getNumPartitions,
          dedupRef.get().bands.rdd.getNumPartitions) <= target,
        "post-drain catalog width must sit within the compaction bound")

      // (1) pair contract: union of per-batch files == full-corpus run
      // restricted to pairs touching a streamed doc
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expectedPairs = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      val streamedPairs = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamedPairs == expectedPairs,
        s"streamed pairs != restricted full run: " +
          s"${streamedPairs.diff(expectedPairs)} vs ${expectedPairs.diff(streamedPairs)}")

      // (2) serving contract: the rolled (index, nProbe) operating point
      // serves exactly what the BATCH composition of the same entry
      // points produces over the same batch sequence
      var dIx = dedup0
      var aIx = ann0
      var np = 2
      var droppedIds = Set.empty[Long]
      Seq(b1, b2).foreach { b =>
        val bd = b.select(col("doc_id"), col("text"))
        val pairs = Dedup.incrementalMinHashPairs(dIx, bd,
          col("doc_id"), col("text"), threshold = 0.5)
        val dropped = IngestServing.keepFirstDropped(pairs, bd)
        droppedIds ++= dropped.collect().map(_.getLong(0))
        val survivors = b
          .join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("vec_id"), col("embedding"))
        dIx = Dedup.dedupIndexAppend(dIx, bd, col("doc_id"), col("text"))
        val grown = Similarity.ivfPqIndexAppend(aIx, survivors)
        val (served, npNew, _) = Similarity.ivfPqRebuildIfStale(grown,
          m = 4, ksub = 8, coarseIters = 1, pqIters = 1)
        aIx = served; np = npNew
      }
      val (annFinal, npFinal) = annOpRef.get()
      assert(npFinal == np, s"operating point diverged: stream np=$npFinal batch np=$np")
      // batch-1 rebuild re-trained at the geometry derived from the
      // THEN-current corpus (not the final count — batch 2 passed through)
      assert(annFinal.centroids.count() > 4 &&
          annFinal.centroids.count() == aIx.centroids.count(),
        "batch-1 rebuild must have re-trained at the derived geometry")
      // accepted-corpus semantics: every streamed survivor is servable,
      // no dropped duplicate is
      val annIds = annFinal.corpus.select(col("c_id"))
        .collect().map(_.getLong(0)).toSet
      val streamedIds = ingest.filter(col("doc_id") % 5 === 0).collect()
        .map(_.getLong(0)).toSet
      assert(droppedIds.nonEmpty, "fixture must drop at least one near-dup")
      assert(droppedIds.forall(!annIds.contains(_)),
        s"dropped duplicates reached the ANN corpus: ${droppedIds.intersect(annIds)}")
      assert(annIds == (corpus.collect().map(_.getLong(0)).toSet
          ++ streamedIds.diff(droppedIds)),
        "ANN corpus must be standing vectors plus exactly the survivors")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), col("embedding"))
      val servedRows = Similarity.ivfPqTopKIndexed(queries, annFinal, 3, npFinal)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val truthRows = Similarity.ivfPqTopKIndexed(queries, aIx, 3, np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(servedRows == truthRows,
        s"stream-rolled serving != batch composition: " +
          s"${servedRows.diff(truthRows)} vs ${truthRows.diff(servedRows)}")
      // the catalog rolled to seen-corpus: one more incremental call sees
      // corpus AND both batches (probe a known streamed doc's text)
      assert(dedupRef.get().staged.count() == docs.count(),
        "dedup catalog must hold every seen doc after the drain")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("retention stream: tombstones shrink both standing indexes, compaction fires, idempotent replay converges") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.RetentionServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val nFull = emb.count()
    val ncSeed = Similarity.autoGeometry(nFull)._1
    // standing state seeded FRAGMENTED (base build + one append, so the
    // member frames carry two generations of partitions and the width
    // arm has something to fire on): content ≡ one build on the full
    // corpus (append ≡ build restricted — the gated invariants)
    def seedDedup() = Dedup.dedupIndexAppend(
      Dedup.buildDedupIndex(docs.filter(col("doc_id") % 3 =!= 0),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3),
      docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"))
    def seedAnn() = Seq(0, 3, 6, 9).foldLeft(
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 3 =!= 0),
        nCentroids = ncSeed, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)) {
      (ix, j) =>  // % 3 == 0 in four slices: each union adds ≥ 1 partition
        Similarity.ivfPqIndexAppend(ix, emb.filter(col("vec_id") % 12 === j))
    }
    val dedup0 = seedDedup()
    val ann0 = seedAnn()
    val w0 = Seq(ann0.corpus, ann0.assigned, ann0.codes)
      .map(_.rdd.getNumPartitions).max
    val target = spark.sessionState.conf.numShufflePartitions
    assert(w0 > target, "seed must be fragmented past natural width")
    val tsDir = Files.createTempDirectory("retention_stream_in").toString
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference(
      (ann0, Similarity.autoGeometry(nFull)._2))
    val t1 = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
    val t2 = docs.filter(col("doc_id") % 10 === 5).select(col("doc_id"))
    t1.coalesce(1).write.mode("append").parquet(tsDir)
    val q = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
      annOpRef, threshold = 0.5, m = 4, ksub = 8,
      compactMaxPartitions = Some(target))
    val queries = emb.filter(col("vec_id") % 20 === 3)
    try {
      q.processAllAvailable() // t1: remove + width-arm compaction fires
      t2.coalesce(1).write.mode("append").parquet(tsDir)
      q.processAllAvailable() // t2: remove, width 4 ≤ 4 → no fire
      assert(q.exception.isEmpty, s"retention stream died: ${q.exception}")

      // structural contracts: both structures shed exactly the tombstoned
      // ids, and compaction restored natural width
      val removed = (t1.collect() ++ t2.collect()).map(_.getLong(0)).toSet
      val surviving = docs.collect().map(_.getLong(0)).toSet -- removed
      val (annF, npF) = annOpRef.get()
      assert(annF.corpus.collect().map(_.getLong(0)).toSet == surviving,
        "ANN corpus must be exactly the un-tombstoned ids")
      assert(dedupRef.get().staged.count() == surviving.size,
        "dedup catalog must hold exactly the un-tombstoned docs")
      assert(Seq(annF.corpus, annF.assigned, annF.codes)
          .map(_.rdd.getNumPartitions).max == target && target < w0,
        "batch-1 compaction must have re-materialized at natural width")

      // serving contract: the rolled state serves exactly what the BATCH
      // composition of the same entry points produces (fresh identical
      // seeds — builds are deterministic — then the stream body per batch)
      var dT = seedDedup()
      var aT = seedAnn()
      var npT = annOpRef.get()._2
      Seq(t1, t2).foreach { ts =>
        val shrunkD = dT.remove(ts)
        val (rb, rbFired) = Dedup.rebuildCatalogIfStale(shrunkD, 0.5)
        dT = if (rbFired) rb
          else shrunkD.compactIfFragmented(maxPartitions = Some(target))._1
        val shrunkA = aT.remove(ts.select(col("doc_id").as("vec_id")))
        val (rbA, np2, rbAFired) = Similarity.ivfPqRebuildIfStale(shrunkA,
          m = 4, ksub = 8, coarseIters = 1, pqIters = 1)
        aT = if (rbAFired) rbA
          else shrunkA.compactIfFragmented(maxPartitions = Some(target))._1
        npT = np2
      }
      assert(npF == npT, s"operating point diverged: stream np=$npF batch np=$npT")
      def served(ix: Similarity.IvfPqIndex, np: Int) =
        Similarity.ivfPqTopKIndexed(queries, ix, 3, np)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamRows = served(annF, npF)
      assert(streamRows == served(aT, npT),
        "stream-rolled ANN serving != batch remove composition")
      assert(streamRows.nonEmpty && !streamRows.exists(t => removed(t._3)),
        "no tombstoned id may appear in the served ranking")
      val probe = docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
      def pairsOf(ix: Dedup.DedupIndex) =
        Dedup.incrementalMinHashPairs(ix, probe, col("doc_id"), col("text"),
          threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val streamPairs = pairsOf(dedupRef.get())
      assert(streamPairs == pairsOf(dT),
        "stream-rolled catalog pairs != batch remove composition")
      assert(!streamPairs.exists(p => removed(p._1) || removed(p._2)),
        "no tombstoned doc may appear in the served pairs")

      // IDEMPOTENT REPLAY — the restart story: a new stream with no
      // checkpoint replays BOTH tombstone files against the already-shrunk
      // state; removes ignore absent ids and the policies are no-ops at
      // natural width, so the served state converges without a recovery
      // hook (StandingIndex.remove's tombstone-replay contract, end-to-end)
      q.stop()
      val q2 = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
        annOpRef, threshold = 0.5, m = 4, ksub = 8,
        compactMaxPartitions = Some(target))
      try {
        q2.processAllAvailable()
        assert(q2.exception.isEmpty, s"replay stream died: ${q2.exception}")
        val (annR, npR) = annOpRef.get()
        assert(served(annR, npR) == streamRows,
          "idempotent replay must converge to the same served ranking")
        assert(pairsOf(dedupRef.get()) == streamPairs,
          "idempotent replay must converge to the same served pairs")
        assert(dedupRef.get().staged.count() == surviving.size)
      } finally q2.stop()
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("retention stream rolls the phash catalog: tombstoned images leave the fourth standing family; replay converges") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Multimodal, Similarity}
    import graft.streaming.RetentionServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val media = Multimodal.syntheticMediaFor(
      Tables.documents(spark, dir).select(col("doc_id")))
    val standingMedia = media.filter(col("media_id") % 5 =!= 0)
    val ph0 = Multimodal.buildPhashIndex(standingMedia)
    val dedup0 = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      emb.filter(col("vec_id") % 5 =!= 0),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val tsDir = Files.createTempDirectory("retention_phash_ts").toString
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val phashRef = new java.util.concurrent.atomic.AtomicReference(ph0)
    val target = spark.sessionState.conf.numShufflePartitions
    // tombstones: standing images with id % 7 == 0, PLUS an id no catalog
    // holds — removes must ignore it (the replay-idempotence semantics)
    docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"))
      .union(spark.range(9999999L, 10000000L).select(col("id").as("doc_id")))
      .coalesce(1).write.mode("append").parquet(tsDir)
    val q = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
      annOpRef, threshold = 0.5, m = 4, ksub = 8,
      compactMaxPartitions = Some(target), phashRef = Some(phashRef))
    val batch = media.filter(col("media_id") % 5 === 0)
    def pairsOf(ix: Multimodal.PhashIndex) =
      Multimodal.incrementalPhashPairs(ix, batch, maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"retention stream died: ${q.exception}")
      val removed = docs
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
        .collect().map(_.getLong(0)).toSet
      val standingIds = standingMedia.select(col("media_id"))
        .collect().map(_.getLong(0)).toSet
      val rolled = phashRef.get()
      assert(rolled.hashes.select(col("media_id"))
          .collect().map(_.getLong(0)).toSet == (standingIds -- removed),
        "phash catalog must hold exactly the un-tombstoned images")
      // batch truth: per-media hash rows make remove ≡ fresh build over
      // corpus∖removed — the rolled catalog serves identically
      val truthIx = Multimodal.buildPhashIndex(
        standingMedia.filter(col("media_id") % 7 =!= 0))
      val rolledPairs = pairsOf(rolled)
      assert(rolledPairs == pairsOf(truthIx),
        "rolled phash catalog serving != fresh build over corpus∖removed")
      assert(rolledPairs.nonEmpty &&
        !rolledPairs.exists(p => removed(p._1) || removed(p._2)),
        "no tombstoned image may appear in the served pairs")
      // IDEMPOTENT REPLAY: a new stream with no checkpoint replays the
      // tombstone file against the already-shrunk state — removes ignore
      // absent ids, so the served image tier converges
      q.stop()
      val q2 = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
        annOpRef, threshold = 0.5, m = 4, ksub = 8,
        compactMaxPartitions = Some(target), phashRef = Some(phashRef))
      try {
        q2.processAllAvailable()
        assert(q2.exception.isEmpty, s"replay stream died: ${q2.exception}")
        assert(pairsOf(phashRef.get()) == rolledPairs,
          "idempotent replay must converge to the same served image pairs")
      } finally q2.stop()
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("retention stream: a later compaction cut frees the blocks of the superseded checkpoint cut") {
    // RetentionServing compacts without a durable root, so each cut is a
    // tracked localCheckpoint; Dataset.unpersist leaves its blocks alone,
    // so the roll to the NEXT cut must free them itself — otherwise a
    // long tombstone stream piles up one corpus-sized cut per fire until
    // releaseArtifacts
    import java.nio.file.Files
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.RetentionServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // 32×16 is the derived banding at every size here, so the banding
    // policy never fires and each batch runs the compaction policy
    val dedup0 = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3).compact(Some(4))
    val ann0 = Similarity.buildIvfPqIndex(emb,
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    def width(ix: Dedup.DedupIndex) = ix.memberFrames.map(_.rdd.getNumPartitions).max
    def ckptRdds(ix: Dedup.DedupIndex) = ix.memberFrames.flatMap(
      _.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id })
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val n0 = docs.count()
    assert(width(dedup0) == 4 && dedup0.rowCount == n0)
    val tsDir = Files.createTempDirectory("retention_cut_release").toString
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    // the catalog's emptiness arm weighs its band rows, 16 a doc; at
    // 1600 band rows a partition batch 1 leaves ~n0/2 docs (< 4·100, cut
    // to 2 partitions) and batch 2 fewer than 2·100 (cut to 1)
    val t1 = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
    val t2 = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0)
      .select(col("doc_id"))
    t1.coalesce(1).write.mode("append").parquet(tsDir)
    val q = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
      annOpRef, threshold = 0.5, m = 4, ksub = 8,
      compactMinRowsPerPartition = 1600L)
    try {
      q.processAllAvailable()
      val cut1 = dedupRef.get()
      assert(cut1.chain.isEmpty && width(cut1) == 2,
        s"batch 1 must cut the catalog to 2 partitions, got ${width(cut1)}")
      val cut1Rdds = ckptRdds(cut1)
      assert(cut1Rdds.nonEmpty && cut1Rdds.forall(persisted.contains),
        "the first cut's members must be live checkpoint RDDs")
      t2.coalesce(1).write.mode("append").parquet(tsDir)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"retention stream died: ${q.exception}")
      val cut2 = dedupRef.get()
      assert(width(cut2) == 1,
        s"batch 2 must cut the catalog to 1 partition, got ${width(cut2)}")
      val leaked = cut1Rdds.filter(persisted.contains)
      assert(leaked.isEmpty,
        s"superseded cut's checkpoint RDDs ${leaked.mkString(",")} are still persisted")
      // the serving cut does not read the freed blocks
      val removed = (t1.collect() ++ t2.collect()).map(_.getLong(0)).toSet
      assert(cut2.staged.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
        docs.collect().map(_.getLong(0)).toSet -- removed)
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("all three standing structures roll in the composed streams: embedding catalog appends, re-buckets on the plane policy, shrinks on tombstones") {
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.{IngestServing, RetentionServing}
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    // LEGACY 2-plane embedding catalog (a bucketing for a ≤128-vector
    // era; the standing 400 already derive 4) — the plane policy must
    // fire on the first ingest trigger and re-bucket from the catalog's
    // own cached vectors
    val emb0 = Dedup.buildEmbIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      col("vec_id"), col("embedding"), nPlanes = 2)
    val batchDir = Files.createTempDirectory("threeway_in").toString
    val tsDir = Files.createTempDirectory("threeway_ts").toString
    val pairsDir = Files.createTempDirectory("threeway_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val embRef = new java.util.concurrent.atomic.AtomicReference(emb0)
    val target = spark.sessionState.conf.numShufflePartitions
    // BOTH front doors live at once over the same refs — the serialized-
    // roll contract (batch bodies synchronize on the shared dedupRef)
    val qi = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      compactMaxPartitions = Some(target), embRef = Some(embRef))
    val qr = RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
      annOpRef, threshold = 0.5, m = 4, ksub = 8,
      compactMaxPartitions = Some(target), embRef = Some(embRef))
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    try {
      b1.coalesce(1).write.mode("append").parquet(batchDir)
      qi.processAllAvailable()
      assert(qi.exception.isEmpty, s"ingest stream died: ${qi.exception}")
      assert(embRef.get().nPlanes == 4,
        "the plane policy must have fired on the grown seen corpus")
      // tombstones: standing docs with doc_id % 7 == 0 leave all three
      corpus.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
        .coalesce(1).write.mode("append").parquet(tsDir)
      qr.processAllAvailable()
      assert(qr.exception.isEmpty, s"retention stream died: ${qr.exception}")
      // batch truth: the embedding catalog holds (standing ∖ tombstoned)
      // ∪ batch at the derived 4 planes — per-vector rows make the
      // rolled state ≡ a fresh build over exactly that corpus
      val truthIx = Dedup.buildEmbIndex(
        corpus.filter(col("doc_id") % 7 =!= 0).unionByName(b1)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        col("vec_id"), col("embedding"), nPlanes = 4)
      val rolled = embRef.get()
      assert(rolled.vecs.collect().map(_.toSeq).toSet ==
        truthIx.vecs.collect().map(_.toSeq).toSet,
        "rolled embedding catalog must equal the fresh build over " +
          "(standing ∖ tombstoned) ∪ batch at the derived planes")
      // serving equivalence through the incremental verb on a fresh probe
      val probe = emb.filter(col("vec_id") % 10 === 5)
        .select(col("vec_id"), col("embedding"))
      def pairsOf(ix: Dedup.EmbIndex) =
        Dedup.incrementalEmbeddingNearDups(ix, probe,
            col("vec_id"), col("embedding"), threshold = 0.3)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rolledPairs = pairsOf(rolled)
      assert(rolledPairs == pairsOf(truthIx),
        "rolled catalog serving != fresh-build serving")
      assert(!rolledPairs.exists(p =>
          (p._1 % 5 != 0 && p._1 % 7 == 0) || (p._2 % 5 != 0 && p._2 % 7 == 0)),
        "no tombstoned vector may appear in the served pairs")
    } finally {
      qi.stop(); qr.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("ServingLocks: an aux standing ref pinned to one dedupRef rejects a different lock identity") {
    // the serialized-roll contract is enforced at CONSTRUCTION, not by
    // comment: foreachBatch bodies lock on the dedupRef instance, so an
    // annOpRef/embRef shared across streams built with DIFFERENT
    // dedupRefs would race its get()/set() — that misconfiguration must
    // throw before any stream starts
    val dedupA = new Object
    val dedupB = new Object
    val annRef = new Object
    val embRef = new Object
    graft.streaming.ServingLocks.register(dedupA, annRef, embRef)
    // re-registering under the SAME lock identity is idempotent
    graft.streaming.ServingLocks.register(dedupA, annRef)
    val err = intercept[IllegalArgumentException] {
      graft.streaming.ServingLocks.register(dedupB, embRef)
    }
    assert(err.getMessage.contains("dedupRef"))
    // a FRESH aux ref is free to ride a different dedupRef
    graft.streaming.ServingLocks.register(dedupB, new Object)
  }

  test("one-drain ingest stream at the default compaction bound equals the batch composition across a mid-stream rebuild") {
    // appends are delta generations (batch-sized caches + lazy unions + a
    // seeded pivot union): the pair files and post-drain ANN serving must
    // equal the batch composition of the same entry points, including
    // across a mid-stream policy-fired rebuild (the auto geometry of ~450
    // vectors fires on batch 1 against the 4-centroid standing index, so
    // batch 2 appends onto a rebuilt standalone base). Both files are
    // staged before the drain and the compaction bound is the default.
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("ingest_delta_in").toString
    val pairsDir = Files.createTempDirectory("ingest_delta_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    val b2 = ingest.filter(col("doc_id") % 10 === 5)
    b1.coalesce(1).write.mode("append").parquet(batchDir)
    b2.coalesce(1).write.mode("append").parquet(batchDir)
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef, annOpRef,
      threshold = 0.5, pairsOutDir = pairsDir, m = 4, ksub = 8)
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"ingest stream died: ${q.exception}")
    } finally q.stop()
    try {
      val pairs = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      assert(pairs == expected && pairs.nonEmpty,
        s"pair files != restricted full run: ${pairs.diff(expected)} vs ${expected.diff(pairs)}")
      // the batch composition: pairs → keep-first → append survivors →
      // rebuild-if-stale, per batch, over the same splits
      var dIx = dedup0
      var aIx = ann0
      var np = 2
      val fired = Seq(b1, b2).map { b =>
        val bd = b.select(col("doc_id"), col("text"))
        val bPairs = Dedup.incrementalMinHashPairs(dIx, bd,
          col("doc_id"), col("text"), threshold = 0.5)
        val survivors = b
          .join(IngestServing.keepFirstDropped(bPairs, bd), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("vec_id"), col("embedding"))
        dIx = Dedup.dedupIndexAppend(dIx, bd, col("doc_id"), col("text"))
        val (served, npNew, rebuilt) = Similarity.ivfPqRebuildIfStale(
          Similarity.ivfPqIndexAppend(aIx, survivors),
          m = 4, ksub = 8, coarseIters = 1, pqIters = 1)
        aIx = served; np = npNew
        rebuilt
      }
      assert(fired.head, "the rebuild policy must fire on batch 1")
      def served(ix: Similarity.IvfPqIndex, nProbe: Int) =
        Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") % 50 === 0), ix, 3, nProbe)
          .select(col("q_id").cast("long"), col("rank").cast("long"),
            col("c_id").cast("long"), col("cos"))
          .as[(Long, Long, Long, Double)].collect().toSet
      val (ix, npStream) = annOpRef.get()
      assert(npStream == np, s"operating point diverged: stream np=$npStream batch np=$np")
      val streamServed = served(ix, npStream)
      assert(streamServed == served(aIx, np) && streamServed.nonEmpty,
        "post-drain ANN serving diverges from the batch composition")
    } finally {
      GraftCaches.unpersistAll(blocking = true)
      GraftCaches.releaseArtifacts(blocking = true)
    }
  }

  test("delta chains: a policy cut returns a standalone generation; the superseded chain releases as one unit") {
    // the lifecycle trade of delta appends, mechanized: two delta
    // generations share the base caches (chain tracks base + deltas and
    // the rolled row counter matches), a policy fire cuts a STANDALONE
    // successor (empty chain), and releasing the superseded chain drops
    // every shared frame while the successor keeps serving — without
    // this, every policy fire in a long-running delta stream strands a
    // corpus-sized cached chain
    import org.apache.spark.storage.StorageLevel
    import graft.functions.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val base = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 3 === 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val d1 = Dedup.dedupIndexAppend(base,
      docs.filter(col("doc_id") % 3 === 1), col("doc_id"), col("text"))
    val d2 = Dedup.dedupIndexAppend(d1,
      docs.filter(col("doc_id") % 3 === 2), col("doc_id"), col("text"))
    // rolled counter: base count + both batches, with zero standing scans
    assert(d2.rows.contains(docs.count()),
      s"rolled row counter ${d2.rows} != corpus count")
    // chain: base staged+bands, then one (staged, bands) delta per append
    assert(d1.chain.frames.size == 4 && d2.chain.frames.size == 6)
    d2.chain.frames.foreach(f =>
      assert(f.storageLevel != StorageLevel.NONE, "chain frame not cached"))
    // a compaction fire (width bound below current) cuts standalone
    val (cut, fired) = d2.compactIfFragmented(maxPartitions = Some(1))
    assert(fired && cut.chain.isEmpty && cut.rows == d2.rows)
    // the stream's release step: the whole superseded chain drops
    d2.chain.release(blocking = true)
    d2.chain.frames.foreach(f =>
      assert(f.storageLevel == StorageLevel.NONE, "chain frame survived release"))
    // the standalone successor still serves: incremental pairs against a
    // planted probe equal the same serve from a FRESH full build
    import spark.implicits._
    val probe = Seq((100001L, "alpha beta gamma delta epsilon zeta eta iota"),
      (100002L, "completely unrelated probe text wholly distinct"))
      .toDF("doc_id", "text")
    def serve(ix: Dedup.DedupIndex) =
      Dedup.incrementalMinHashPairs(ix, probe, col("doc_id"), col("text"),
          threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = Dedup.buildDedupIndex(docs, col("doc_id"), col("text"),
      numHashes = 32, nBands = 16, shingleK = 3)
    assert(serve(cut) == serve(fresh),
      "post-cut serving != fresh-build serving after the chain released")
    // a RE-BAND fire on a chained index also cuts the staged frame
    // standalone (the signature pass scans every row anyway): successor
    // chain empty, banding at the derived geometry
    val legacy = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 3 === 0),
      col("doc_id"), col("text"), numHashes = 32, nBands = 8, shingleK = 3)
    val l1 = Dedup.dedupIndexAppend(legacy,
      docs.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"))
    val (rebanded, rbFired) = Dedup.rebuildCatalogIfStale(l1, threshold = 0.5)
    assert(rbFired && rebanded.chain.isEmpty && rebanded.nBands == 16)
    l1.chain.release(blocking = true)
    assert(serve(rebanded) == serve(fresh),
      "post-reband serving != fresh-build serving after the chain released")

    // StandingIndex.roll — one input per roll kind
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.functions.StandingIndex
    def loaded(df: DataFrame): Boolean = {
      val ls = df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      ls.nonEmpty && ls.forall(_.cacheBuilder.isCachedColumnBuffersLoaded)
    }
    def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
    def build(pred: Column, nBands: Int = 16) = Dedup.buildDedupIndex(
      docs.filter(pred), col("doc_id"), col("text"),
      numHashes = 32, nBands = nBands, shingleK = 3)
    def grow(ix: Dedup.DedupIndex, pred: Column) =
      Dedup.dedupIndexAppend(ix, docs.filter(pred), col("doc_id"), col("text"))
    val ref = new AtomicReference[Dedup.DedupIndex](null)
    // no-cut append roll: a chained successor is only set — no job runs
    // and nothing releases (it reads every superseded frame)
    val r0 = build(col("doc_id") % 3 === 0)
    val r1 = grow(r0, col("doc_id") % 3 === 1)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      StandingIndex.roll(r1, Seq(r0))(ref.set)
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0 && (ref.get eq r1),
      s"the append roll ran ${jobs.get} job(s)")
    assert(r1.chain.frames.forall(cached), "an append roll released a frame")
    // compaction cut: every pre-cut chain frame releases
    val r2 = grow(r1, col("doc_id") % 3 === 2)
    StandingIndex.roll(r2, Seq(r1))(ref.set)
    val (r3, cutFired) = r2.compactIfFragmented(maxPartitions = Some(1))
    assert(cutFired && r3.chain.isEmpty)
    StandingIndex.roll(r3, Seq(r2))(ref.set)
    assert(ref.get eq r3)
    r2.chain.frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
      "a pre-cut chain frame survived the compaction roll"))
    assert(serve(r3) == serve(fresh), "post-cut-roll serving != fresh build")
    // remove roll: the successor's members are filled before the
    // superseded generation releases
    val f0 = build(col("doc_id") % 2 === 0)
    val f1 = f0.remove(docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")))
    StandingIndex.roll(f1, Seq(f0)) { next =>
      assert(next.memberFrames.forall(loaded),
        "the remove successor was set before its members were filled")
      assert(f0.memberFrames.forall(cached),
        "the superseded generation released before its successor was set")
      ref.set(next)
    }
    assert(f0.memberFrames.forall(f => !cached(f)) && f1.memberFrames.forall(cached))
    // a standalone successor still LAZY over its predecessor's caches is
    // filled by the roll itself, before the predecessor releases
    val f2 = f1.copy(
      staged = GraftCaches.persistedArtifact(f1.staged.filter(col("doc_id") % 4 === 0)),
      bands = GraftCaches.persistedArtifact(f1.bands.filter(col("doc_id") % 4 === 0)),
      rows = None)
    assert(!f2.memberFrames.exists(loaded))
    StandingIndex.roll(f2, Seq(f1)) { next =>
      assert(next.memberFrames.forall(loaded) && f1.memberFrames.forall(cached),
        "a lazy successor must be filled while its predecessor is still cached")
      ref.set(next)
    }
    assert(f1.memberFrames.forall(f => !cached(f)))
    // re-band of an UNCHAINED catalog: the served staged frame is the
    // superseded one's — it stays; the superseded bands release
    val u = build(lit(true), nBands = 8)
    val (ub, ubFired) = Dedup.rebuildCatalogIfStale(u, threshold = 0.5)
    assert(ubFired && (ub.staged eq u.staged))
    StandingIndex.roll(ub, Seq(u))(ref.set)
    assert(cached(ub.staged) && loaded(ub.staged),
      "the re-band roll released the staged frame the successor serves")
    assert(u.bands.storageLevel == StorageLevel.NONE,
      "the superseded band frame survived the re-band roll")
    assert(serve(ub) == serve(fresh), "post-reband-roll serving != fresh build")
    GraftCaches.unpersistAll(blocking = true)
    GraftCaches.releaseArtifacts(blocking = true)
  }

  test("delta-mode restart with checkpoint + phash roll: committed batches not replayed, all four standing structures serve exactly") {
    // the delta-append arms VERDICT r12 asked for: (a) checkpoint-restart
    // recovery IN DELTA MODE (the lazy-union + shared-cache lifecycle is
    // exactly where a restart bug would hide), and (b) the image tier as
    // the FOURTH standing roll — media payloads ride the ingest rows and
    // the phash catalog advances per batch with the same seen-corpus
    // semantics as the text/embedding catalogs
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import graft.functions.{Dedup, Multimodal, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val media = Multimodal.syntheticPngMedia(docs.select(col("doc_id")))
    val ingest = docs
      .join(emb.withColumnRenamed("vec_id", "doc_id")
        .select(col("doc_id"), col("embedding")), Seq("doc_id"))
      .join(media.withColumnRenamed("media_id", "doc_id"), Seq("doc_id"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("payload", BinaryType)))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    def freshState() = {
      val d = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
        col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
      val a = Similarity.buildIvfPqIndex(
        corpus.select(col("doc_id").as("vec_id"), col("embedding")),
        nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
      val ph = Multimodal.buildPhashIndex(
        corpus.select(col("doc_id").as("media_id"), col("payload")))
      (d, a, ph)
    }
    val (dedup0, ann0, ph0) = freshState()
    val batchDir = Files.createTempDirectory("ingest_delta_rs_in").toString
    val ckptDir = Files.createTempDirectory("ingest_delta_rs_meta").toString
    val pairsDir = Files.createTempDirectory("ingest_delta_rs_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val phRef = new java.util.concurrent.atomic.AtomicReference(ph0)
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    val b2 = ingest.filter(col("doc_id") % 10 === 5)
    b1.coalesce(1).write.mode("append").parquet(batchDir)
    val q1 = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, ingestSchema = schema,
      checkpointLocation = Some(ckptDir), m = 4, ksub = 8,
      phashRef = Some(phRef))
    q1.processAllAvailable()
    assert(q1.exception.isEmpty, s"delta b1: ${q1.exception}")
    q1.stop()
    // RESTART under the documented contract: driver state rebuilds from
    // the seen/accepted snapshots; the checkpoint must resume AFTER the
    // committed batch-1 file (a replay would crash the strict id guards
    // of all four appends)
    val b1d = b1.select(col("doc_id"), col("text"))
    val pairs1 = Dedup.incrementalMinHashPairs(dedup0, b1d,
      col("doc_id"), col("text"), threshold = 0.5)
    val survivors1 = b1
      .join(IngestServing.keepFirstDropped(pairs1, b1d), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val (annSnap, npSnap, _) = Similarity.ivfPqRebuildIfStale(
      Similarity.ivfPqIndexAppend(ann0, survivors1),
      m = 4, ksub = 8, coarseIters = 1, pqIters = 1)
    dedupRef.get().release()
    phRef.get().release()
    GraftCaches.unpersistAll(blocking = true)
    val seen1 = corpus.unionByName(b1)
    dedupRef.set(Dedup.buildDedupIndex(seen1.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3))
    annOpRef.set((annSnap, npSnap))
    phRef.set(Multimodal.buildPhashIndex(
      seen1.select(col("doc_id").as("media_id"), col("payload"))))
    b2.coalesce(1).write.mode("append").parquet(batchDir)
    val q2 = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, ingestSchema = schema,
      checkpointLocation = Some(ckptDir), m = 4, ksub = 8,
      phashRef = Some(phRef))
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty,
        s"delta restart replayed a committed batch into the id guards: ${q2.exception}")
      // text-pair contract across the restart boundary (the composed
      // restart test's oracle)
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      val streamed = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected,
        s"delta restart pair output != restricted full run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
      // the image catalog advanced with seen-corpus semantics through
      // delta generations AND the restart: its hashes equal a fresh
      // decode+hash over every seen payload
      val rolledPh = phRef.get().hashes
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val truthPh = Multimodal.perceptualHashes(
          ingest.select(col("doc_id").as("media_id"), col("payload")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rolledPh == truthPh,
        "rolled phash catalog != fresh decode+hash over the seen corpus")
      // and it SERVES: a fresh probe image near-dups through the standing
      // catalog exactly as through a fresh full build
      val probeMedia = Multimodal.syntheticPngMedia(
          spark.range(0, 1).select((col("id") + 1000000L).as("doc_id")))
      def phServe(ix: Multimodal.PhashIndex) =
        Multimodal.incrementalPhashPairs(ix, probeMedia, maxHamming = 24)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(phServe(phRef.get()) == phServe(Multimodal.buildPhashIndex(
        ingest.select(col("doc_id").as("media_id"), col("payload")))))
    } finally {
      q2.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("delta-mode compaction cut prunes superseded survivor epochs; the stream keeps serving afterwards") {
    // the r13 ADVICE finding: <pairsOutDir>/_survivors grew one epoch per
    // micro-batch for the life of the stream. A compaction-fired cut now
    // materializes through a DURABLE parquet root (GraftCaches.durableCut)
    // and reclaims every older epoch in the same roll — this arm drives
    // enough delta batches through a tight width bound that the ANN
    // compaction fires mid-drain, and asserts the epoch dir SHRINKS at
    // the cut while the pair contract still holds at drain end
    import java.nio.file.Files
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("epoch_prune_in").toString
    val pairsDir = Files.createTempDirectory("epoch_prune_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    val annWidth0 = Seq(ann0.corpus, ann0.assigned, ann0.codes)
      .map(_.rdd.getNumPartitions).max
    // width bound one above the seed: each delta append adds one
    // single-file epoch partition to the UNSHUFFLED corpus union (AQE
    // coalesces the shuffled assigned/codes frames, so the corpus is the
    // width that accumulates — +1 per batch, deterministic), so the ANN
    // width arm fires MID-drain; geometryFactor 100 pins the rebuild
    // policy silent so the cut is compaction-fired (the pruning case)
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      geometryFactor = 100.0,
      compactMaxPartitions = Some(annWidth0 + 1))
    // the stream's own state lives under IngestServing.stateRoot, outside
    // the pairs sink's recacheByPath prefix
    def stateDir(sub: String): java.io.File = new java.io.File(
      new java.net.URI(s"${IngestServing.stateRoot(spark, pairsDir)}/$sub"))
    def epochs(): Set[String] = {
      val d = stateDir("_survivors")
      Option(d.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    }
    try {
      val nBatches = 6
      val counts = (0 until nBatches).map { j =>
        // disjoint slices of the held-out 20% (doc_id % 5 == 0): every
        // batch is new to the standing catalogs' id guards
        ingest.filter(col("doc_id") % 5 === 0 &&
            (col("doc_id") / 5) % nBatches === j)
          .coalesce(1).write.mode("append").parquet(batchDir)
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"delta drain died at batch $j: ${q.exception}")
        epochs().size
      }
      // without pruning the dir grows monotonically to nBatches epochs;
      // the cut must have reclaimed the pre-cut epochs mid-drain
      assert(counts.zip(counts.tail).exists { case (a, b) => b < a },
        s"no epoch reclaim observed across the drain: $counts")
      assert(counts.last < nBatches,
        s"drain ended with every epoch still on disk: $counts")
      assert(stateDir("_gen/ann").isDirectory,
        "the compaction cut must have materialized a durable parquet root")
      // each family's cut pruned that family's older roots: every
      // _gen/<family> holds only its latest cut, and the ANN cut also
      // reclaimed every survivor epoch older than itself
      def cutIds(d: java.io.File): Seq[Long] = Option(d.listFiles()).toSeq
        .flatten.map(_.getName).filter(_.matches("b\\d+")).map(_.drop(1).toLong)
      val families = stateDir("_gen").listFiles().filter(_.isDirectory).toSeq
      families.foreach { f =>
        val ids = cutIds(f)
        assert(ids.nonEmpty && ids.forall(_ == ids.max),
          s"_gen/${f.getName} keeps roots older than its latest cut: ${ids.sorted}")
      }
      val annCut = cutIds(stateDir("_gen/ann")).max
      assert(cutIds(stateDir("_survivors")).forall(_ >= annCut),
        s"survivor epochs older than the ANN cut b$annCut: ${epochs()}")
      // the serving contract survives the cut: union of per-batch pair
      // files equals the full-corpus run restricted to streamed docs
      val full = Dedup.minHashDedupPairs(docs, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
      val streamed = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected,
        "post-prune pair output != restricted full run")
    } finally {
      q.stop()
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("delta-mode ingest keeps every standing cache filled across batches; the no-fire compaction read runs no job") {
    // each pairs append runs Spark's CacheManager.recacheByPath(pairsDir),
    // which empties every cache whose file roots start with that string.
    // The stream's survivor epochs (the ANN deltas' lineage roots) and
    // generation roots live under IngestServing.stateRoot, outside that
    // prefix: after several batches and one more append to the pairs
    // sink (the first write of the next micro-batch), every cached leaf
    // of the served members must still hold its buffers, and the
    // compaction policy's width read (which under AQE can re-fill an
    // emptied table cache) must run no Spark job at all
    import java.nio.file.Files
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.TestListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.IngestServing
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = 4, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("cache_keep_in").toString
    val pairsDir = Files.createTempDirectory("cache_keep_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, 2))
    // geometryFactor 100 keeps the rebuild policy silent, so the served
    // ANN members stay chained unions (base ∪ one delta per batch)
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      geometryFactor = 100.0)
    val nBatches = 4
    try {
      try {
        (0 until nBatches).foreach { j =>
          ingest.filter(col("doc_id") % 5 === 0 &&
              (col("doc_id") / 5) % nBatches === j)
            .coalesce(1).write.mode("append").parquet(batchDir)
          q.processAllAvailable()
          assert(q.exception.isEmpty, s"delta drain died at batch $j: ${q.exception}")
        }
      } finally q.stop()
      spark.read.parquet(pairsDir).limit(0)
        .write.mode("append").parquet(pairsDir)
      val (ann, _) = annOpRef.get()
      val dedup = dedupRef.get()
      def leaves(df: DataFrame): Seq[InMemoryRelation] =
        df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      Seq("ann corpus" -> ann.corpus, "ann assigned" -> ann.assigned,
          "ann codes" -> ann.codes, "dedup staged" -> dedup.staged,
          "dedup bands" -> dedup.bands).foreach { case (name, df) =>
        val ls = leaves(df)
        assert(ls.size == nBatches + 1,
          s"$name: expected base + one delta per batch, got ${ls.size} cached leaves")
        val emptied = ls.count(!_.cacheBuilder.isCachedColumnBuffersLoaded)
        assert(emptied == 0,
          s"$name: $emptied of ${ls.size} cached leaves were emptied by a pairs-sink write")
      }
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      val sc = spark.sparkContext
      TestListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try {
        val (_, fired) = ann.compactIfFragmented()
        TestListenerBus.drain(sc)
        assert(!fired, "the default width bound must not fire after four batches")
        assert(jobs.get == 0,
          s"the no-fire compaction read ran ${jobs.get} job(s) on the served index")
      } finally sc.removeSparkListener(listener)
    } finally {
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("delta-mode ingest and retention on one dedupRef: tombstones shrink a chained generation, the next batch dedups against the live corpus") {
    // retention against DELTA generations: after batch 1 the served
    // catalog and index are lazy unions over shared caches (a chain), so
    // a tombstone roll must cut them standalone, release the whole
    // pre-retention chain, and leave batch 2 deduping against exactly
    // the live corpus (standing ∪ batch 1 ∖ tombstoned)
    import java.nio.file.Files
    import org.apache.spark.storage.StorageLevel
    import graft.functions.{Dedup, Similarity}
    import graft.streaming.{IngestServing, RetentionServing}
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)
    val b1 = ingest.filter(col("doc_id") % 10 === 0)
    val b2 = ingest.filter(col("doc_id") % 10 === 5)
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.minHashDedupPairs(d, col("doc_id"), col("text"),
          numHashes = 32, bands = 16, threshold = 0.5, shingleK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tombstone one standing doc and one batch-1 doc, each preferring a
    // doc that near-dups a batch-2 doc, so retention removes pairs batch
    // 2 would otherwise emit
    val fullPairs = pairsOf(ingest.select(col("doc_id"), col("text")))
    def tombstoneOf(ids: Seq[Long]): Long =
      fullPairs.toSeq.sorted.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .collectFirst { case (x, y) if ids.contains(x) && y % 10 == 5 => x }
        .getOrElse(ids.min)
    val tombStanding = tombstoneOf(
      corpus.select(col("doc_id")).as[Long].collect().toSeq)
    val tombB1 = tombstoneOf(b1.select(col("doc_id")).as[Long].collect().toSeq)
    val tombstoned = Set(tombStanding, tombB1)
    val dedup0 = Dedup.buildDedupIndex(corpus.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), numHashes = 32, nBands = 16, shingleK = 3)
    val (nc, np0) = Similarity.autoGeometry(corpus.count())
    val ann0 = Similarity.buildIvfPqIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")),
      nCentroids = nc, coarseIters = 1, m = 4, ksub = 8, pqIters = 1)
    val batchDir = Files.createTempDirectory("ingest_ret_in").toString
    val tsDir = Files.createTempDirectory("ingest_ret_ts").toString
    val pairsDir = Files.createTempDirectory("ingest_ret_out").toString + "/pairs"
    val dedupRef = new java.util.concurrent.atomic.AtomicReference(dedup0)
    val annOpRef = new java.util.concurrent.atomic.AtomicReference((ann0, np0))
    // geometryFactor 100 keeps both rebuild policies silent, so batch 1
    // leaves chained generations and retention is what cuts them
    b1.coalesce(1).write.mode("append").parquet(batchDir)
    val qi = IngestServing.startIngestStream(spark, batchDir, dedupRef,
      annOpRef, threshold = 0.5, pairsDir, m = 4, ksub = 8,
      geometryFactor = 100.0)
    var qr: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    try {
      qi.processAllAvailable() // batch 1: delta appends, no policy cut
      assert(qi.exception.isEmpty, s"ingest batch 1 died: ${qi.exception}")
      val preChain = dedupRef.get().chain.frames ++ annOpRef.get()._1.chain.frames
      assert(dedupRef.get().chain.nonEmpty && annOpRef.get()._1.chain.nonEmpty,
        "batch 1 must leave chained generations for retention to shrink")
      Seq(tombStanding, tombB1).toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(tsDir)
      qr = Some(RetentionServing.startRetentionStream(spark, tsDir, dedupRef,
        annOpRef, threshold = 0.5, m = 4, ksub = 8, geometryFactor = 100.0))
      qr.get.processAllAvailable() // retention: remove both tombstones
      assert(qr.get.exception.isEmpty, s"retention died: ${qr.get.exception}")
      preChain.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
        "a pre-retention chain frame is still cached after the retention roll"))
      val catalogIds = dedupRef.get().staged.select(col("doc_id")).as[Long]
        .collect().toSet
      assert(tombstoned.forall(!catalogIds.contains(_)),
        "tombstoned docs must leave the dedup catalog")
      b2.coalesce(1).write.mode("append").parquet(batchDir)
      qi.processAllAvailable() // batch 2 against the shrunk catalog
      assert(qi.exception.isEmpty, s"ingest batch 2 died: ${qi.exception}")
      // batch 2's pairs (the only ones touching a % 10 == 5 doc) equal the
      // full run over the live corpus restricted to batch-2 pairs
      val live = ingest.select(col("doc_id"), col("text"))
        .filter(!col("doc_id").isin(tombstoned.toSeq: _*))
      val expected = pairsOf(live).filter(p => p._1 % 10 == 5 || p._2 % 10 == 5)
      val streamed = spark.read.parquet(pairsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => p._1 % 10 == 5 || p._2 % 10 == 5).toSet
      assert(streamed == expected,
        s"batch-2 pairs != live-corpus run: " +
          s"${streamed.diff(expected)} vs ${expected.diff(streamed)}")
      // served ANN results never return a tombstoned id
      val (annF, npF) = annOpRef.get()
      val annIds = annF.corpus.select(col("c_id")).as[Long].collect().toSet
      assert(tombstoned.forall(!annIds.contains(_)),
        "tombstoned ids must leave the ANN corpus")
      val served = Similarity.ivfPqTopKIndexed(
          emb.filter(col("vec_id") % 20 === 0), annF, 3, npF)
        .select(col("c_id").cast("long")).as[Long].collect()
      assert(served.nonEmpty && !served.exists(tombstoned),
        "no tombstoned id may appear in the served ranking")
    } finally {
      qi.stop()
      qr.foreach(_.stop())
      GraftCaches.unpersistAll()
      GraftCaches.releaseArtifacts()
    }
  }

  test("one maintenance step: no serving stream rolls, compacts or prunes itself; one driver sets maxFilesPerTrigger") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala/graft/streaming").toPath
    assert(Files.isDirectory(root), s"source root not found: ${root.toAbsolutePath}")
    val sources: Seq[(String, String)] = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map((f: Path) => f.getFileName.toString -> new String(Files.readAllBytes(f), "UTF-8"))
    assert(sources.size >= 6)
    // StandingIndex.stepAt owns the roll, the compaction policy and the
    // prune of durable roots for every family
    val offenders = for {
      (file, text) <- sources
      name <- Seq("StandingIndex.roll", "compactIfFragmented", "pruneEpochs")
      if text.contains(name)
    } yield s"$file: $name"
    assert(offenders.isEmpty,
      s"maintenance outside StandingIndex.stepAt: ${offenders.mkString(", ")}")
    val drivers = sources.collect { case (file, text)
      if text.contains("maxFilesPerTrigger") => file }
    assert(drivers == Seq("ServingStream.scala"),
      s"maxFilesPerTrigger set outside the one driver: ${drivers.mkString(", ")}")
  }
}
