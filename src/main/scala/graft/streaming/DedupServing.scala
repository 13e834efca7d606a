package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.Dedup

/** STREAMING INGEST DEDUP — the streaming face of the standing dedup
  * index ([[Dedup.DedupIndex]]), completing the symmetry with
  * [[AnnServing]]: document batches arrive as a file stream, and each
  * micro-batch
  *
  *   1. emits its INCREMENTAL near-dup pairs (vs the standing corpus and
  *      within the batch) — [[Dedup.incrementalMinHashPairs]], batch-only
  *      staging + bucket equi-joins, never a corpus recompute;
  *   2. APPENDS itself into the index ([[Dedup.dedupIndexAppend]] — a
  *      delta generation over the superseded one's caches), lets the
  *      COMPACTION policy ([[Dedup.compactDedupIndexIfFragmented]]) bound
  *      the union width, and rolls the served reference — so batch N+1
  *      dedups against the corpus AND batches 1..N. A routine roll
  *      releases nothing (the successor reads the shared caches); a
  *      compaction cut materializes through a durable parquet root under
  *      [[IngestServing.stateRoot]] of `outDir` and releases the pre-cut
  *      chain. No banding policy runs here, so the banding — and with it
  *      the pair contract below — is the standing index's own.
  *
  * This is the ingest-time dedup front door of a training-data pipeline:
  * the near-dup decision is made as data ARRIVES, against everything
  * already accepted, at per-batch cost. Exactness contract: the union of
  * per-batch pair sets equals the full-corpus [[Dedup.minHashDedupPairs]]
  * restricted to pairs touching a streamed doc, with every pair emitted
  * exactly once in the batch of its later-arriving doc (StreamingSpec
  * pins this against the full batch run). foreachBatch is at-least-once
  * under retries, so a production sink writes epoch-keyed paths or an
  * idempotent upsert; the index roll is driver-side state — on restart,
  * rebuild from the last accepted corpus snapshot.
  */
object DedupServing {

  /** Default layout of the staged document files. */
  val defaultDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Start the ingest-dedup stream over parquet batches under `docDir`:
    * appends `(id1, id2, jaccard)` pairs to `outDir` per micro-batch and
    * grows the index in `indexRef`. `maxFilesPerTrigger = 1` makes each
    * staged file its own micro-batch.
    *
    * RESTART / REPLAY: pass `checkpointLocation` so a restarted stream
    * resumes from committed offsets instead of replaying every file in
    * `docDir` (the index roll is driver-side state, so ALSO rebuild
    * `indexRef` from the last accepted corpus snapshot before
    * restarting). `tolerateReplays = true` additionally drops batch rows
    * whose `doc_id` is already indexed (and intra-batch id duplicates)
    * BEFORE staging, so a replayed or overlapping file cannot crash-loop
    * the stream on the id-hygiene guard — the replayed docs' pairs were
    * already emitted in their original batch, and the index stays
    * single-copy. Default remains strict: with exactly-once file
    * delivery, a clashing id is data corruption and should fail loudly
    * rather than be silently skipped. */
  def startDedupStream(spark: SparkSession, docDir: String,
      indexRef: AtomicReference[Dedup.DedupIndex], threshold: Double,
      outDir: String, maxFilesPerTrigger: Int = 1,
      docSchema: StructType = defaultDocSchema,
      checkpointLocation: Option[String] = None,
      tolerateReplays: Boolean = false): StreamingQuery = {
    val state = IngestServing.stateRoot(spark, outDir)
    val writer = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docDir)
      .writeStream
    checkpointLocation.fold(writer)(p => writer.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val index = indexRef.get()
        val fresh =
          if (!tolerateReplays) batch
          // one dropDuplicates over the SMALL batch + an anti-join keyed
          // by doc_id against the cached catalog ids — never a corpus scan
          else batch.dropDuplicates("doc_id")
            .join(index.staged.select(col("doc_id")), Seq("doc_id"), "left_anti")
        // staged once: the pair pass and the append share the batch's
        // shingles, bands and id-hygiene checks
        val staged = Dedup.stageBatch(index, fresh, col("doc_id"), col("text"))
        Dedup.incrementalPairsOfStaged(index, staged, threshold)
          .write.mode("append").parquet(outDir)
        // roll the generation: later batches must dedup against this one
        val grown = Dedup.dedupIndexAppendStaged(index, staged)
        val (served, cut) = Dedup.compactDedupIndexIfFragmented(grown,
          durableRoot = Some(s"$state/_gen/dedup/b$batchId"))
        indexRef.set(served)
        // only a cut leaves the pre-cut chain unread by any live handle;
        // its parquet root also supersedes every older one
        if (cut) {
          grown.chain.release()
          IngestServing.pruneEpochs(spark, s"$state/_gen/dedup", batchId)
        }
        // batch staging was working-tier
        graft.GraftCaches.unpersistAll()
        ()
      }
      .start()
  }
}
