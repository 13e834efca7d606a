package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.Similarity

/** ONLINE ANN SERVING — the streaming face of the index lifecycle: query
  * vectors arrive as a stream and are served against a BUILT (artifact-
  * cached) IVF-PQ index via `foreachBatch`, each micro-batch running the
  * IDENTICAL batch serving plan (broadcast probes + broadcast ADC tables
  * against the unshuffled cached index — zero training jobs, zero
  * index scans beyond cache). Per-query independence makes the union of
  * micro-batch results equal batch serving over the same query set row
  * for row — StreamingSpec pins stream ≡ batch across multi-batch input.
  *
  * At scale this is the retrieval serving tier: the index artifacts are
  * built offline ([[Similarity.buildIvfPqIndex]]) or loaded
  * (`Similarity.IvfPqIndex.load`), stay resident across micro-batches,
  * and each trigger pays only |batch|·(probes + ADC) work. The demo sink
  * appends parquet per micro-batch; foreachBatch is at-least-once under
  * retries, so a production sink should write epoch-keyed paths or an
  * idempotent upsert (the pattern `EventStreams`' PNG sink demonstrates).
  */
object AnnServing {

  /** Default layout of the staged query files (the float layout the
    * fixtures use; every serving path casts to double internally). */
  val defaultQuerySchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Serve a file-source stream of query vectors under `queryDir` against
    * `index` at `nProbe`, appending `(q_id, rank, c_id, cos)` parquet to
    * `outDir`, one staged file per micro-batch
    * ([[startServingStreamOp]] over a fixed operating point). Pass
    * `querySchema` when the staged files use a different embedding layout
    * (e.g. `array<double>`) — a schema mismatch on a file source reads
    * nulls, not an error. */
  def startServingStream(spark: SparkSession, queryDir: String,
      index: Similarity.IvfPqIndex, k: Int, nProbe: Int, outDir: String,
      querySchema: StructType = defaultQuerySchema): StreamingQuery =
    startServingStreamOp(spark, queryDir, new AtomicReference((index, nProbe)),
      k, outDir, querySchema)

  /** GENERATION-ROLLOVER form: the served index AND its operating point
    * (nProbe) are read atomically from `opRef` at the START of each
    * micro-batch, so an operator thread rolls generations WITHOUT
    * stopping the stream. An append roll (a delta generation over the
    * previous one's caches, quantizers frozen) keeps the nProbe; a
    * REBUILD ([[Similarity.ivfPqRebuildIfStale]]) changes the
    * inverted-list GEOMETRY, so the probe depth must roll with the index
    * (serving a 16×-finer index at the old nProbe would silently probe
    * 16× less of the corpus). The composed streams roll `opRef` through
    * [[graft.functions.StandingIndex.stepAt]]. A batch already executing
    * against the previous generation still computes correctly (unpersist
    * drops cached blocks, not the plan); StreamingSpec pins post-roll
    * batches ≡ batch serving on the grown, cut and rebuilt index at its
    * operating point. */
  def startServingStreamOp(spark: SparkSession, queryDir: String,
      opRef: AtomicReference[(Similarity.IvfPqIndex, Int)], k: Int,
      outDir: String,
      querySchema: StructType = defaultQuerySchema): StreamingQuery =
    ServingStream.start(spark, queryDir, querySchema) { (batch, _) =>
      val (index, nProbe) = opRef.get()
      Similarity.ivfPqTopKIndexed(batch, index, k, nProbe)
        .write.mode("append").parquet(outDir)
    }
}
