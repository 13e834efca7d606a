package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.GraftCaches.Persistable
import graft.functions.{Dedup, Multimodal, Similarity, StandingIndex}

/** STREAMING INGEST PIPELINE — the streaming face of the composed
  * `ingest_pipeline_policy` gate, joining [[DedupServing]] (standing
  * dedup catalog) and [[AnnServing]] (standing ANN index) into ONE front
  * door: document+embedding batches arrive as a file stream and each
  * micro-batch
  *
  *   1. emits its INCREMENTAL near-dup pairs against the standing catalog
  *      and within itself ([[Dedup.incrementalMinHashPairs]] — batch-only
  *      staging + bucket equi-joins, never a corpus recompute);
  *   2. applies the deterministic KEEP-FIRST drop policy: a batch doc
  *      drops iff it pairs at J≥threshold with an already-SEEN doc (the
  *      standing catalog — original corpus plus every earlier streamed
  *      batch, accepted or dropped) or with a smaller-id doc of its own
  *      batch. Seen-not-accepted matters: a doc duplicating a previously
  *      DROPPED doc still drops, because its keep-first canonical (the
  *      earliest-seen member of the duplicate chain) is already indexed —
  *      the same transitive policy the batch gates pin;
  *   3. appends the WHOLE batch into the dedup catalog (seen-corpus
  *      semantics — future batches must dedup against everything that has
  *      arrived, with each pair emitted exactly once in the batch of its
  *      later doc), and the same batch into the embedding and phash
  *      catalogs when they ride along;
  *   4. appends only SURVIVOR embeddings into the ANN index
  *      (accepted-corpus semantics — retrieval must never return a
  *      dropped duplicate) through frozen quantizers (FAISS-add).
  *
  * Each family then goes through the one maintenance step,
  * [[StandingIndex.stepAt]] (policy, else compaction, then roll and
  * prune), with its policy: re-banding ([[Dedup.rebuildCatalogIfStale]])
  * for the dedup catalog, a rebuild at a new (index, nProbe) operating
  * point ([[Similarity.ivfPqRebuildIfStale]], the
  * [[AnnServing.startServingStreamOp]] contract) for the ANN index,
  * re-bucketing ([[Dedup.rebuildEmbIndexIfStale]]) for the embedding
  * catalog, none for phash. Survivor embeddings cut lineage through an
  * epoch-keyed parquet write under `<state>/_survivors` (a real lineage
  * root for the ANN deltas), compactions cut through durable parquet
  * roots under `<state>/_gen`, and an ANN compaction cut also prunes the
  * survivor epochs it supersedes; `<state>` is [[stateRoot]] of
  * `pairsOutDir`.
  *
  * Exactness contract (StreamingSpec pins both halves): the union of
  * per-batch pair files equals the full-corpus batch run restricted to
  * pairs touching a streamed doc, and post-drain serving against
  * `annOpRef` equals the BATCH composition (incremental pairs → keep-first
  * → append survivors → rebuild-if-stale → serve) over the same splits —
  * the `ingest_pipeline_policy` plan itself.
  *
  * At 100 TB this is the daily-ingest shape: per-trigger cost is
  * batch-sized (staging, bucket joins, assignment/coding of survivors);
  * the only corpus-sized work is the rebuild, which fires only when the
  * geometry policy says the corpus has OUTGROWN its quantizers — amortized
  * over every append since the last rebuild. foreachBatch is
  * at-least-once under retries, so a production pairs sink writes
  * epoch-keyed paths or an idempotent upsert; both index rolls are
  * driver-side state — on restart, rebuild the catalog from the seen
  * corpus snapshot and the ANN index from the accepted one, and pass
  * `checkpointLocation` so committed batches are not replayed into the
  * strict id-hygiene guards.
  */
object IngestServing {

  /** Default layout of the staged ingest files: a document row carrying
    * its embedding (the join of [[DedupServing.defaultDocSchema]] and
    * [[AnnServing.defaultQuerySchema]] shapes, keyed once). */
  val defaultIngestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  /** Root of an ingest stream's own state (survivor epochs
    * `_survivors/b<id>`, durable generation roots `_gen/<family>/b<id>`):
    * `<parent>/_ingest_state_<name>` beside the qualified `pairsOutDir`,
    * outside its string prefix (`<pairsOutDir>_state` would share it).
    * Every pairs append triggers Spark's `recacheByPath(pairsOutDir)`,
    * which drops and lazily re-plans every cache whose file roots start
    * with that string — with the epochs and the durable generation roots
    * under `pairsOutDir`, each batch emptied the caches of every ANN
    * delta (and, after a cut, of the base members) and the next batch
    * re-filled them. */
  def stateRoot(spark: SparkSession, pairsOutDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(pairsOutDir)
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p)
    require(q.getParent != null,
      s"pairsOutDir must not be a filesystem root: $pairsOutDir")
    new org.apache.hadoop.fs.Path(q.getParent, s"_ingest_state_${q.getName}")
      .toString
  }

  /** Keep-first drop policy over one batch's incremental pair set: the
    * doc_ids of `batchDocs` that pair with a non-batch (already-seen) doc
    * or with a smaller-id batch doc. Pure plan building (no action); both
    * inputs are batch-sized, so every join below is a broadcast at scale.
    * Factored out so the streaming loop and StreamingSpec's batch-truth
    * recomputation share one definition. */
  def keepFirstDropped(pairs: DataFrame, batchDocs: DataFrame): DataFrame = {
    val batchIds = batchDocs.select(col("doc_id"))
    val sym = pairs.select(explode(array(
        struct(col("id1").as("cand"), col("id2").as("other")),
        struct(col("id2").as("cand"), col("id1").as("other")))).as("p"))
      .select(col("p.cand"), col("p.other"))
    // cand must be a batch doc (standing docs are never dropped); the
    // other side's batch membership decides which policy arm applies
    sym.join(batchIds.select(col("doc_id").as("cand")), Seq("cand"), "left_semi")
      .join(batchIds.select(col("doc_id").as("other"),
        lit(true).as("__in_batch")), Seq("other"), "left")
      .filter(!coalesce(col("__in_batch"), lit(false)) ||
        col("other") < col("cand"))
      .select(col("cand").as("doc_id")).distinct()
  }

  /** Start the composed ingest stream over parquet batches under
    * `batchDir`, one staged file per micro-batch: appends `(id1, id2,
    * jaccard)` pairs to `pairsOutDir`, rolls the dedup catalog in
    * `dedupRef` (whole batch) and the ANN operating point in `annOpRef`
    * (survivors, then the rebuild policy). `m`/`ksub`/`coarseIters`/
    * `pqIters` parameterize a policy-fired rebuild and must match the
    * standing index's build parameters (quantizer shape is not stored in
    * [[Similarity.IvfPqIndex]] beyond `m`); `geometryFactor` is the drift
    * bound; `compactMaxPartitions` the compaction width bound.
    *
    * `deltaAppends` has no settable value left (appends are always delta
    * generations); it stays only so existing callers that pass
    * `deltaAppends = true` by name keep compiling, and goes with the next
    * change to the benchmark harness, its last such caller. */
  def startIngestStream(spark: SparkSession, batchDir: String,
      dedupRef: AtomicReference[Dedup.DedupIndex],
      annOpRef: AtomicReference[(Similarity.IvfPqIndex, Int)],
      threshold: Double, pairsOutDir: String,
      ingestSchema: StructType = defaultIngestSchema,
      checkpointLocation: Option[String] = None,
      m: Int = 16, ksub: Int = 32, coarseIters: Int = 1, pqIters: Int = 1,
      geometryFactor: Double = 1.3,
      compactMaxPartitions: Option[Int] = None,
      embRef: Option[AtomicReference[Dedup.EmbIndex]] = None,
      deltaAppends: Boolean = true,
      phashRef: Option[AtomicReference[Multimodal.PhashIndex]] = None):
      StreamingQuery = {
    require(deltaAppends, "copy-on-append was removed")
    require(phashRef.isEmpty || ingestSchema.fieldNames.contains("payload"),
      "a phash roll needs a binary `payload` column in the ingest schema")
    // enforce (don't just document) the lock-identity contract: the
    // aux refs this stream rolls must always ride the same dedupRef
    ServingLocks.register(dedupRef,
      (annOpRef +: (embRef.toSeq ++ phashRef.toSeq)): _*)
    val state = stateRoot(spark, pairsOutDir)
    // SERIALIZED ROLLS: the batch body synchronizes on `dedupRef` — the
    // one object this stream and a concurrently-running
    // [[RetentionServing]] stream share by construction (one standing
    // state, two front doors). Without it, two in-flight foreachBatch
    // bodies interleave get()/set() and the LAST set wins: a lost
    // retention roll silently resurrects right-to-be-forgotten docs in
    // the served state, the loser's generation frames release twice,
    // and each body's end-of-batch `GraftCaches.unpersistAll()` yanks
    // the other's in-flight working frames. Holding the lock for the
    // whole body makes roll + release + cleanup one atomic unit.
    // CONTRACT: concurrent streams over the same standing state must be
    // constructed with the SAME dedupRef instance (the lock identity).
    ServingStream.start(spark, batchDir, ingestSchema, checkpointLocation) {
      (batch, batchId) => dedupRef.synchronized {
        val dedupIx = dedupRef.get()
        val docs = batch.select(col("doc_id"), col("text"))
        // staged ONCE against the standing catalog: the pair pass and the
        // catalog append below share the batch's shingles, bands and
        // id-hygiene checks (each public entry point would re-stage)
        val staged = Dedup.stageBatch(dedupIx, docs, col("doc_id"), col("text"))
        // pairs feed two consumers (the sink and the drop policy):
        // persist once so the bucket joins run once per batch
        val pairs = Dedup.incrementalPairsOfStaged(dedupIx, staged, threshold)
          .persistTracked()
        pairs.write.mode("append").parquet(pairsOutDir)
        // LINEAGE CUT at the dedup→ANN boundary (the ingest_pipeline_policy
        // lesson): survivors otherwise embed the whole quarantine/bucket
        // plan and every index-build action re-analyzes it. Batch-sized.
        // The cut is an epoch-keyed parquet write, so the ANN delta
        // members keep a DURABLE lineage root (under the state root,
        // outside the pairs write's recacheByPath prefix; overwrite:
        // idempotent under retries)
        val epochPath = s"$state/_survivors/b$batchId"
        batch.join(keepFirstDropped(pairs, docs), Seq("doc_id"), "left_anti")
          .select(col("doc_id").as("vec_id"), col("embedding"))
          .write.mode("overwrite").parquet(epochPath)
        val survivors = batch.sparkSession.read.parquet(epochPath)
        val cuts = StandingIndex.Compaction(compactMaxPartitions,
          durable = Some((s"$state/_gen", batchId)))
        // the dedup catalog grows by the WHOLE batch (seen-corpus
        // semantics); policy: re-banding
        StandingIndex.step("dedup", dedupIx,
          Dedup.dedupIndexAppendStaged(dedupIx, staged), cuts)(
          Dedup.rebuildCatalogIfStale(_, threshold))(dedupRef.set)
        // the ANN index grows by the SURVIVORS (accepted-corpus
        // semantics); policy: rebuild at a new operating point. A
        // compaction cut also reclaims the survivor epochs it supersedes
        val (annIx, _) = annOpRef.get()
        StandingIndex.stepAt("ann", annIx,
          Similarity.ivfPqIndexAppend(annIx, survivors), cuts,
          epochDirs = Seq(s"$state/_survivors"))(
          Similarity.ivfPqRebuildIfStale(_, m, ksub, coarseIters, pqIters,
            geometryFactor))(annOpRef.set)
        // the embedding catalog grows by the whole batch; policy:
        // re-bucketing at the derived plane count
        embRef.foreach { ref =>
          val embIx = ref.get()
          StandingIndex.step("emb", embIx, Dedup.embIndexAppend(embIx,
            batch.select(col("doc_id").as("vec_id"), col("embedding")),
            col("vec_id"), col("embedding")), cuts)(
            Dedup.rebuildEmbIndexIfStale)(ref.set)
        }
        // the phash catalog grows by the whole batch's media payloads; no
        // policy (the band layout is fixed by the hash width)
        phashRef.foreach { ref =>
          val phIx = ref.get()
          StandingIndex.step("phash", phIx, Multimodal.phashIndexAppend(phIx,
            batch.select(col("doc_id").as("media_id"), col("payload"))), cuts)(
            StandingIndex.unchanged)(ref.set)
        }
        graft.GraftCaches.unpersistAll()
      }
    }
  }
}
