package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
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
  * Each tombstone micro-batch REMOVES the batch ids from every standing
  * structure ([[StandingIndex.remove]] — broadcast anti-joins on the
  * keyed frames; quantizers untouched; absent ids ignored, which is what
  * makes this stream safe under at-least-once replay), then puts each
  * shrunk family through the one maintenance step
  * ([[StandingIndex.stepAt]]: policy, else compaction, then roll) with
  * the same policies as ingest. Mass deletions shrink the corpus the way
  * ingest grows it, so banding, geometry and plane count can drift
  * DOWNWARD past the factor, and every policy detects drift in either
  * direction. Anti-joins keep partition width while shedding rows, so
  * the compaction policy's emptiness arm
  * (`compactMinRowsPerPartition`) is what merges a churned index here;
  * retention cuts are tracked localCheckpoints, not durable roots.
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
    * `tombstoneDir`, one staged file per micro-batch, rolling the dedup
    * catalog in `dedupRef` and the ANN operating point in `annOpRef`.
    * `threshold` parameterizes the banding policy;
    * `m`/`ksub`/`coarseIters`/`pqIters`/`geometryFactor` a policy-fired
    * ANN rebuild (must match the standing index's build parameters, as
    * in [[IngestServing.startIngestStream]]);
    * `compactMaxPartitions`/`compactMinRowsPerPartition` the compaction
    * detector. */
  def startRetentionStream(spark: SparkSession, tombstoneDir: String,
      dedupRef: AtomicReference[Dedup.DedupIndex],
      annOpRef: AtomicReference[(Similarity.IvfPqIndex, Int)],
      threshold: Double,
      tombstoneSchema: StructType = defaultTombstoneSchema,
      checkpointLocation: Option[String] = None,
      m: Int = 16, ksub: Int = 32, coarseIters: Int = 1, pqIters: Int = 1,
      geometryFactor: Double = 1.3,
      compactMaxPartitions: Option[Int] = None,
      compactMinRowsPerPartition: Long = 0L,
      embRef: Option[AtomicReference[Dedup.EmbIndex]] = None,
      phashRef: Option[AtomicReference[Multimodal.PhashIndex]] = None):
      StreamingQuery = {
    // enforce (don't just document) the lock-identity contract: the
    // aux refs this stream rolls must always ride the same dedupRef
    ServingLocks.register(dedupRef,
      (annOpRef +: (embRef.toSeq ++ phashRef.toSeq)): _*)
    val cuts = StandingIndex.Compaction(compactMaxPartitions,
      compactMinRowsPerPartition)
    // SERIALIZED ROLLS on the shared `dedupRef` — see the
    // [[IngestServing.startIngestStream]] block comment: an ingest and
    // a retention stream over one standing state must not interleave
    // get()/set() (a lost retention roll resurrects removed docs) nor
    // run end-of-batch cache cleanup under the other's in-flight batch.
    // Same contract: concurrent streams share the dedupRef INSTANCE.
    ServingStream.start(spark, tombstoneDir, tombstoneSchema,
        checkpointLocation) { (batch, _) => dedupRef.synchronized {
      // one id column for every family (vec_id = media_id = doc_id)
      val ids = batch.select(col("doc_id"))
      val dedupIx = dedupRef.get()
      StandingIndex.step("dedup", dedupIx, dedupIx.remove(ids), cuts)(
        Dedup.rebuildCatalogIfStale(_, threshold))(dedupRef.set)
      val (annIx, _) = annOpRef.get()
      StandingIndex.stepAt("ann", annIx,
        annIx.remove(ids.select(col("doc_id").as("vec_id"))), cuts)(
        Similarity.ivfPqRebuildIfStale(_, m, ksub, coarseIters, pqIters,
          geometryFactor))(annOpRef.set)
      embRef.foreach { ref =>
        val embIx = ref.get()
        StandingIndex.step("emb", embIx,
          embIx.remove(ids.select(col("doc_id").as("vec_id"))), cuts)(
          Dedup.rebuildEmbIndexIfStale)(ref.set)
      }
      phashRef.foreach { ref =>
        val phIx = ref.get()
        StandingIndex.step("phash", phIx,
          phIx.remove(ids.select(col("doc_id").as("media_id"))), cuts)(
          StandingIndex.unchanged)(ref.set)
      }
      graft.GraftCaches.unpersistAll()
    } }
  }
}
