package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.IngestServing

/** SUSTAINED-INGEST BACKPRESSURE PROBE — measures the production claim the
  * composed ingest pipeline makes but the per-round bench (one batch per
  * gate run) cannot: per-batch latency stays FLAT as the standing indexes
  * grow, because per-trigger cost is batch-sized (staging, bucket joins,
  * assignment/coding of survivors) and the only corpus-sized work — a
  * policy-fired rebuild/reband — is amortized over every append since the
  * last fire and visible as an isolated spike, not a trend.
  *
  * Protocol: standing state builds over the `doc_id % 5 != 0` split at the
  * derived geometries (autoBanding / autoGeometry — the policies then
  * judge drift against their own derivations); the `% 5 == 0` split is cut
  * into N single-file parquet batches; ONE ingest stream drains them at
  * `maxFilesPerTrigger = 1`, and the per-trigger wall times come from the
  * stream's own progress events (`triggerExecution` — includes the
  * foreachBatch body: pair join, drop policy, all three index rolls, both
  * policies). Prints ONE JSON line with the per-batch series plus
  * first/second-half medians and their ratio (the trend statistic: ~1.0 =
  * flat; a policy-fired rebuild shows as an isolated spike in the series,
  * attributable by inspection since the medians are robust to it).
  *
  * Run (the ×30 record row):
  * {{{
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=target/testdata-sf3 \
  *     sbt "runMain graft.tools.IngestProbe 16"
  * }}}
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    // usage: IngestProbe [nBatches] [compact=N] — `compact=N` pins the
    // compaction policy's width bound so a long drain exercises
    // mid-stream standalone cuts (and the chain releases they trigger)
    val nBatches = args.filterNot(_.startsWith("compact="))
      .headOption.map(_.toInt).getOrElse(16)
    val compactBound = args.find(_.startsWith("compact="))
      .map(_.stripPrefix("compact=").toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sfDir)
    val ingest = docs.join(emb.withColumnRenamed("vec_id", "doc_id")
      .select(col("doc_id"), col("embedding")), Seq("doc_id"))
    val corpus = ingest.filter(col("doc_id") % 5 =!= 0)

    // standing state at DERIVED geometries (the policies' own fixed point:
    // no fire on batch 1 unless growth genuinely drifts the derivation)
    val corpusDocs = corpus.select(col("doc_id"), col("text"))
    val nDocs = corpusDocs.count()
    val (numHashes, bands) = Dedup.autoBanding(nDocs, 0.5)
    val dedup0 = Dedup.buildDedupIndex(corpusDocs, col("doc_id"), col("text"),
      numHashes = numHashes, nBands = bands, shingleK = 3)
    val (ann0, np0) = Similarity.ivfPqAutoIndexFor(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")))
    graft.GraftCaches.unpersistAll(blocking = true)

    // N single-file batches from the streamed split
    val batchDir = java.nio.file.Files.createTempDirectory("ingest_probe_in").toString
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_probe_out").toString + "/pairs"
    val streamed = ingest.filter(col("doc_id") % 5 === 0)
    (0 until nBatches).foreach { i =>
      streamed.filter(
          pmod(floor(col("doc_id") / 5).cast("long"), lit(nBatches.toLong)) === i)
        .coalesce(1).write.mode("append").parquet(batchDir)
    }

    val dedupRef = new AtomicReference(dedup0)
    val annOpRef = new AtomicReference((ann0, np0))
    val q = IngestServing.startIngestStream(spark, batchDir, dedupRef, annOpRef,
      threshold = 0.5, pairsOutDir = pairsDir, maxFilesPerTrigger = 1,
      compactMaxPartitions = compactBound)
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.batchId)
      .map(p => (p.batchId, p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0))
    q.stop()

    val times = progress.map(_._3)
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else { val s = xs.sorted; s(s.length / 2) }
    val (h1, h2) = times.splitAt(times.length / 2)
    val m1 = median(h1); val m2 = median(h2)
    val batchesJson = progress.map { case (id, rows, sec) =>
      f"""{"batch":$id,"rows":$rows,"sec":$sec%.3f}""" }.mkString("[", ",", "]")
    // cut evidence for the long-drain protocol: the final catalog width
    // (a fired compaction re-materializes at ≤ the bound) and the live
    // chain depth — bounded by deltas SINCE the last cut,
    // so a value well under 2·nBatches proves mid-drain cuts released
    // their superseded chains
    val finalWidth = dedupRef.get().bands.rdd.getNumPartitions
    val chainDepth = dedupRef.get().chain.frames.size
    println(
      f"""{"metric":"ingest_probe",""" +
      f""""sf":"$sfDir","n_batches":${progress.length},""" +
      f""""wall_sec":$wall%.1f,"median_first_half_sec":$m1%.3f,""" +
      f""""median_second_half_sec":$m2%.3f,"trend_ratio":${if (m1 > 0) m2 / m1 else 0.0}%.3f,""" +
      f""""compact_bound":${compactBound.getOrElse(-1)},"final_width":$finalWidth,""" +
      f""""chain_depth":$chainDepth,"batches":$batchesJson}""")
    graft.GraftCaches.releaseArtifacts(blocking = true)
    spark.stop()
  }
}
