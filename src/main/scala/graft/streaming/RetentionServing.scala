package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.{Dedup, Multimodal, Similarity, StandingIndex}

/** STREAMING RETENTION — the tombstone front door, completing the
  * streaming lifecycle [[IngestServing]] starts: ingest APPENDS roll the
  * standing indexes per micro-batch, and right-to-be-forgotten /
  * takedown / license-revocation events are the same shape in reverse — a
  * stream of doc ids that must LEAVE every standing structure on
  * batch-sized cost, without interrupting serving. ALL FOUR families
  * ride the same tombstones (vec_id = media_id = doc_id, the ingest-side
  * convention): dedup catalog and ANN index always; the embedding
  * catalog via `embRef` and the phash catalog via `phashRef` — PII text,
  * vectors AND images leave together, or the takedown is not a takedown.
  * Each tombstone micro-batch
  *
  *   1. REMOVES the batch ids from the standing dedup catalog and the
  *      standing ANN index ([[StandingIndex.remove]] — broadcast
  *      anti-joins on the keyed frames; quantizers untouched; absent ids
  *      ignored, which is what makes this stream safe under
  *      at-least-once replay);
  *   2. runs the REBUILD policies on the shrunk structures
  *      ([[Dedup.rebuildCatalogIfStale]] / [[Similarity.ivfPqRebuildIfStale]]
  *      — mass deletions shrink the corpus the same way ingest grows it,
  *      so banding/geometry can drift DOWNWARD past the factor and the
  *      derived dials must follow; both policies detect drift in either
  *      direction);
  *   3. when no rebuild fired, runs the COMPACTION policy
  *      ([[StandingIndex.compactIfFragmented]]): anti-joins keep
  *      partition width while shedding rows, so a churned index pays
  *      full-width scheduling over mostly-empty partitions until the
  *      emptiness arm (or accumulated-append width) says merge. A rebuild
  *      already re-materializes at natural width, so the arms are
  *      mutually exclusive per trigger;
  *   4. rolls the served references ([[StandingIndex.roll]] — in-flight
  *      readers keep their generation, the next reader sees the shrunk
  *      one).
  *
  * IDEMPOTENT REPLAY is the restart story and is pinned in StreamingSpec:
  * with no checkpoint a restarted stream replays every tombstone file,
  * and because removes ignore absent ids and the policies are
  * deterministic functions of the surviving state, the replayed stream
  * converges to the same served state — no recovery hook needed (pass
  * `checkpointLocation` anyway in production to skip the wasted work).
  * This is exactly why [[StandingIndex.remove]] specifies
  * tombstone-replay idempotence rather than erroring on unknown ids.
  *
  * At 100 TB the per-trigger cost is one broadcast anti-join per keyed
  * frame (deletion events are batch-sized; the index side is scanned, not
  * shuffled); the only corpus-sized work is a policy-fired rebuild or
  * compaction, amortized over every removal since the last fire. */
object RetentionServing {

  /** Default layout of staged tombstone files: one id column, shared by
    * both structures (vec_id = doc_id — the ingest-side convention). */
  val defaultTombstoneSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType)))

  /** Start the retention stream over parquet tombstone batches under
    * `tombstoneDir`, rolling the dedup catalog in `dedupRef` and the ANN
    * operating point in `annOpRef`. `threshold` parameterizes the banding
    * policy; `m`/`ksub`/`coarseIters`/`pqIters`/`geometryFactor` a
    * policy-fired ANN rebuild (must match the standing index's build
    * parameters, as in [[IngestServing.startIngestStream]]);
    * `compactMaxPartitions`/`compactWidthFactor`/`compactMinRowsPerPartition`
    * the compaction detector. */
  def startRetentionStream(spark: SparkSession, tombstoneDir: String,
      dedupRef: AtomicReference[Dedup.DedupIndex],
      annOpRef: AtomicReference[(Similarity.IvfPqIndex, Int)],
      threshold: Double, maxFilesPerTrigger: Int = 1,
      tombstoneSchema: StructType = defaultTombstoneSchema,
      checkpointLocation: Option[String] = None,
      m: Int = 16, ksub: Int = 32, coarseIters: Int = 1, pqIters: Int = 1,
      geometryFactor: Double = 1.3,
      compactMaxPartitions: Option[Int] = None,
      compactWidthFactor: Double = 4.0,
      compactMinRowsPerPartition: Long = 0L,
      embRef: Option[AtomicReference[Dedup.EmbIndex]] = None,
      embTargetBucket: Long = 32L,
      phashRef: Option[AtomicReference[Multimodal.PhashIndex]] = None):
      StreamingQuery = {
    // enforce (don't just document) the lock-identity contract: the
    // aux refs this stream rolls must always ride the same dedupRef
    ServingLocks.register(dedupRef,
      (annOpRef +: (embRef.toSeq ++ phashRef.toSeq)): _*)
    val writer = spark.readStream
      .schema(tombstoneSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(tombstoneDir)
      .writeStream
    checkpointLocation.fold(writer)(p => writer.option("checkpointLocation", p))
      // SERIALIZED ROLLS on the shared `dedupRef` — see the
      // [[IngestServing.startIngestStream]] block comment: an ingest and
      // a retention stream over one standing state must not interleave
      // get()/set() (a lost retention roll resurrects removed docs) nor
      // run end-of-batch cache cleanup under the other's in-flight batch.
      // Same contract: concurrent streams share the dedupRef INSTANCE.
      .foreachBatch { (batch: DataFrame, _: Long) => dedupRef.synchronized {
        val ids = batch.select(col("doc_id"))
        // dedup catalog: remove → banding policy → compaction policy
        val dedupIx = dedupRef.get()
        val shrunkD = dedupIx.remove(ids)
        val (rebanded, rebandFired) =
          Dedup.rebuildCatalogIfStale(shrunkD, threshold)
        val servedD =
          if (rebandFired) rebanded
          else shrunkD.compactIfFragmented(compactMaxPartitions,
            compactWidthFactor, compactMinRowsPerPartition)._1
        StandingIndex.roll(servedD, Seq(dedupIx, shrunkD))(dedupRef.set)
        // ANN index: remove → geometry policy → compaction policy
        val (annIx, _) = annOpRef.get()
        val shrunkA = annIx.remove(ids.select(col("doc_id").as("vec_id")))
        val (rebuilt, np, rebuildFired) = Similarity.ivfPqRebuildIfStale(
          shrunkA, m, ksub, coarseIters, pqIters, geometryFactor)
        val servedA =
          if (rebuildFired) rebuilt
          else shrunkA.compactIfFragmented(compactMaxPartitions,
            compactWidthFactor, compactMinRowsPerPartition)._1
        StandingIndex.roll(servedA, Seq(annIx, shrunkA))(ix =>
          annOpRef.set((ix, np)))
        // embedding catalog: remove → plane policy → compaction policy —
        // the third standing structure leaves on the same tombstones
        // (vec_id = doc_id, the ingest-side convention); removes ignore
        // absent ids, so replay idempotence holds here too
        embRef.foreach { ref =>
          val embIx = ref.get()
          val shrunkE = embIx.remove(ids.select(col("doc_id").as("vec_id")))
          val (rebuiltE, rebucketed) =
            Dedup.rebuildEmbIndexIfStale(shrunkE, embTargetBucket)
          val servedE =
            if (rebucketed) rebuiltE
            else shrunkE.compactIfFragmented(compactMaxPartitions,
              compactWidthFactor, compactMinRowsPerPartition)._1
          StandingIndex.roll(servedE, Seq(embIx, shrunkE))(ref.set)
        }
        // phash catalog: remove → compaction policy — the FOURTH standing
        // family leaves on the same tombstones (media_id = doc_id, the
        // ingest-side convention; PII images are exactly what
        // right-to-be-forgotten events name). No geometry policy exists —
        // the band layout derives per-call from maxHamming — so the
        // emptiness/width arms are the only standing maintenance; removes
        // ignore absent ids, preserving replay idempotence
        phashRef.foreach { ref =>
          val phIx = ref.get()
          val shrunkP = phIx.remove(ids.select(col("doc_id").as("media_id")))
          val (servedP, _) = shrunkP.compactIfFragmented(compactMaxPartitions,
            compactWidthFactor, compactMinRowsPerPartition)
          StandingIndex.roll(servedP, Seq(phIx, shrunkP))(ref.set)
        }
        graft.GraftCaches.unpersistAll()
        ()
      } }
      .start()
  }
}
