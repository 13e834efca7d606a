package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * ([[Similarity.loadIvfPqIndex]]), stay resident across micro-batches,
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
    * `index`, appending `(q_id, rank, c_id, cos)` parquet to `outDir`.
    * `maxFilesPerTrigger = 1` makes each staged file its own micro-batch
    * (the spec uses this to prove multi-batch composition). Pass
    * `querySchema` when the staged files use a different embedding layout
    * (e.g. `array<double>`) — a schema mismatch on a file source reads
    * nulls, not an error. */
  def startServingStream(spark: SparkSession, queryDir: String,
      index: Similarity.IvfPqIndex, k: Int, nProbe: Int, outDir: String,
      maxFilesPerTrigger: Int = 1,
      querySchema: StructType = defaultQuerySchema): StreamingQuery = {
    val ref = new AtomicReference(index)
    startServingStreamRef(spark, queryDir, ref, k, nProbe, outDir,
      maxFilesPerTrigger, querySchema)
  }

  /** GENERATION-ROLLOVER form: the served index is read from `indexRef`
    * at the START of each micro-batch, so an operator thread can roll
    * generations WITHOUT stopping the stream — the daily-append serving
    * pattern:
    *
    *   1. `g2 = `[[Similarity.ivfPqIndexAppend]]`(g1, batch)` — a delta
    *      generation whose members are lazy unions over g1's caches
    *      (quantizer frames shared: append never retrains);
    *   2. `indexRef.set(g2)`;
    *   3. release NOTHING: g2 reads g1's caches. Release only at a CUT —
    *      once a policy returns a standalone generation (compaction,
    *      rebuild, remove), set it, then release the superseded chain
    *      ([[Similarity.releaseIndexData]] on the pre-cut generation).
    *
    * A batch already executing against the previous generation still
    * computes correctly (unpersist does not invalidate the plan, it
    * only drops cached blocks). StreamingSpec pins post-roll batches ≡
    * batch serving on the grown index, and the cut leaving the
    * standalone successor serving unchanged.
    */
  def startServingStreamRef(spark: SparkSession, queryDir: String,
      indexRef: AtomicReference[Similarity.IvfPqIndex], k: Int, nProbe: Int,
      outDir: String, maxFilesPerTrigger: Int = 1,
      querySchema: StructType = defaultQuerySchema): StreamingQuery =
    spark.readStream
      .schema(querySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(queryDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Similarity.ivfPqTopKIndexed(batch, indexRef.get(), k, nProbe)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()

  /** REGEOMETRY-ROLLOVER form: the served index AND its operating point
    * (nProbe) swap together, read atomically at the start of each
    * micro-batch. This is the serving side of the REBUILD POLICY
    * ([[Similarity.ivfPqRebuildIfStale]]): unlike an append roll — where
    * quantizers are frozen and the old nProbe stays right — a rebuild
    * changes the inverted-list GEOMETRY, so the probe depth must roll
    * with the index (serving a 16×-finer index at the old nProbe would
    * silently probe 16× less of the corpus). An operator thread runs the
    * policy, sets `(rebuiltIndex, newNProbe)`, and releases the
    * superseded generation's data tier; StreamingSpec pins post-roll
    * batches ≡ batch serving on the rebuilt index at its derived
    * operating point. */
  def startServingStreamOp(spark: SparkSession, queryDir: String,
      opRef: AtomicReference[(Similarity.IvfPqIndex, Int)], k: Int,
      outDir: String, maxFilesPerTrigger: Int = 1,
      querySchema: StructType = defaultQuerySchema): StreamingQuery =
    spark.readStream
      .schema(querySchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(queryDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (index, nProbe) = opRef.get()
        Similarity.ivfPqTopKIndexed(batch, index, k, nProbe)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
}
