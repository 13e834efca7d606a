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
  *      later doc), runs the BANDING policy ([[Dedup.rebuildCatalogIfStale]]:
  *      when the grown count derives a different [[Dedup.autoBanding]]
  *      than the catalog carries, the band projection recomputes over the
  *      catalog's own staged frame — no corpus re-read), falls back to
  *      the COMPACTION policy when the banding passes through
  *      ([[StandingIndex.compactIfFragmented]] — k appended batches
  *      otherwise concatenate k generations of partitions into every
  *      bucket join), and rolls the served reference;
  *   4. appends only SURVIVOR embeddings into the ANN index
  *      (accepted-corpus semantics — retrieval must never return a
  *      dropped duplicate) through frozen quantizers (FAISS-add), then
  *      runs the REBUILD POLICY ([[Similarity.ivfPqRebuildIfStale]]):
  *      when accumulated appends drift the geometry past the factor (or
  *      lists skew past the imbalance bound), the full accepted corpus
  *      rebuilds at [[Similarity.autoGeometry]] of its count and the
  *      served (index, nProbe) OPERATING POINT rolls atomically — the
  *      [[AnnServing.startServingStreamOp]] contract, since a rebuild
  *      changes inverted-list geometry and the probe depth must move
  *      with it; when the policy passes through, the COMPACTION policy
  *      ([[StandingIndex.compactIfFragmented]]) bounds the keyed
  *      frames' scheduling width the same way.
  *
  * Every generation change is a [[StandingIndex.roll]] (the lifecycle
  * contract lives there): appends are delta generations, so a routine
  * roll releases nothing, and a policy cut (re-band, rebuild, re-bucket,
  * compaction) releases the whole pre-cut chain — executor storage stays
  * bounded by one generation plus the deltas since the last cut.
  * Survivor embeddings cut lineage through an
  * epoch-keyed parquet write under `<state>/_survivors` (a real lineage
  * root for the ANN deltas), compactions cut through durable parquet
  * roots under `<state>/_gen`, and a compaction cut prunes the epochs
  * and roots it supersedes; `<state>` is [[stateRoot]] of `pairsOutDir`.
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

  /** Delete epoch-keyed sub-directories `b<id>` of `dir` with id strictly
    * below `cutBatchId` — the storage-reclaim half of a COMPACTION-fired
    * standalone cut (the r13 ADVICE finding: survivor epochs accumulated
    * one batch-sized parquet per micro-batch for the life of the stream).
    * Only compaction cuts prune: their generation materializes through a
    * [[graft.GraftCaches.durableCut]] parquet root, so NOTHING live can
    * reach an older epoch through lineage. A REBUILD-fired cut's frames
    * keep lineage through the pre-cut chain (recompute may re-read the
    * epochs), so rebuild cuts leave pruning to the next compaction.
    * Restarted checkpoint-less streams renumber batches from 0 — their
    * stale higher-numbered dirs are left alone (overwrite-idempotent)
    * and fall to the first cut that passes them. */
  private[streaming] def pruneEpochs(spark: SparkSession, dir: String,
      cutBatchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("b") && name.length > 1 &&
          name.drop(1).forall(_.isDigit) && name.drop(1).toLong < cutBatchId)
        fs.delete(st.getPath, true)
    }
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
    * `batchDir`: per micro-batch, appends `(id1, id2, jaccard)` pairs to
    * `pairsOutDir`, rolls the dedup catalog in `dedupRef` (whole batch)
    * and the ANN operating point in `annOpRef` (survivors, then the
    * rebuild policy). `m`/`ksub`/`coarseIters`/`pqIters` parameterize a
    * policy-fired rebuild and must match the standing index's build
    * parameters (quantizer shape is not stored in [[Similarity.IvfPqIndex]]
    * beyond `m`); `geometryFactor` is the drift bound.
    *
    * `deltaAppends` has no settable value left (appends are always delta
    * generations); it stays only so existing callers that pass
    * `deltaAppends = true` by name keep compiling, and goes with the next
    * change to the benchmark harness, its last such caller. */
  def startIngestStream(spark: SparkSession, batchDir: String,
      dedupRef: AtomicReference[Dedup.DedupIndex],
      annOpRef: AtomicReference[(Similarity.IvfPqIndex, Int)],
      threshold: Double, pairsOutDir: String,
      maxFilesPerTrigger: Int = 1,
      ingestSchema: StructType = defaultIngestSchema,
      checkpointLocation: Option[String] = None,
      m: Int = 16, ksub: Int = 32, coarseIters: Int = 1, pqIters: Int = 1,
      geometryFactor: Double = 1.3,
      compactMaxPartitions: Option[Int] = None,
      compactWidthFactor: Double = 4.0,
      embRef: Option[AtomicReference[Dedup.EmbIndex]] = None,
      embTargetBucket: Long = 32L,
      deltaAppends: Boolean = true,
      phashRef: Option[AtomicReference[Multimodal.PhashIndex]] = None,
      phashMaxHamming: Int = 6): StreamingQuery = {
    require(deltaAppends, "copy-on-append was removed")
    require(phashRef.isEmpty || ingestSchema.fieldNames.contains("payload"),
      "a phash roll needs a binary `payload` column in the ingest schema")
    // enforce (don't just document) the lock-identity contract: the
    // aux refs this stream rolls must always ride the same dedupRef
    ServingLocks.register(dedupRef,
      (annOpRef +: (embRef.toSeq ++ phashRef.toSeq)): _*)
    val state = stateRoot(spark, pairsOutDir)
    val writer = spark.readStream
      .schema(ingestSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(batchDir)
      .writeStream
    checkpointLocation.fold(writer)(p => writer.option("checkpointLocation", p))
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
      .foreachBatch { (batch: DataFrame, batchId: Long) => dedupRef.synchronized {
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
        // roll the catalog on the WHOLE batch (seen-corpus semantics),
        // then let the BANDING policy judge the grown count — the dedup
        // mirror of the ANN rebuild below (on fire, re-banding cuts the
        // catalog's staged frame standalone, so only the band projection
        // recomputes over it)
        val grownDedup = Dedup.dedupIndexAppendStaged(dedupIx, staged)
        val (rebandedDedup, rebanded) =
          Dedup.rebuildCatalogIfStale(grownDedup, threshold)
        // COMPACTION POLICY when no reband fired: every append
        // concatenates the batch's partitions into the member frames, so
        // k daily batches schedule k× the tasks per bucket join until a
        // merge re-materializes at natural width. Compactions cut through
        // DURABLE parquet roots (GraftCaches.durableCut — recoverable
        // after the chain releases, and the precondition for pruning
        // superseded epochs below)
        def genRoot(family: String): Option[String] =
          Some(s"$state/_gen/$family/b$batchId")
        val servedDedup =
          if (rebanded) rebandedDedup
          else grownDedup.compactIfFragmented(compactMaxPartitions,
            compactWidthFactor, durableRoot = genRoot("dedup"))._1
        StandingIndex.roll(servedDedup, Seq(dedupIx, grownDedup))(dedupRef.set)
        // compaction cuts are parquet-rooted → older gen roots are
        // unreferenced (reband cuts keep lineage: no prune)
        if (servedDedup.chain.isEmpty && !rebanded)
          pruneEpochs(batch.sparkSession, s"$state/_gen/dedup", batchId)
        // roll the ANN generation on the SURVIVORS (accepted-corpus
        // semantics), then let the rebuild policy pick the geometry; when
        // it passes through, the compaction policy bounds scheduling width
        val (annIx, _) = annOpRef.get()
        val grownAnn = Similarity.ivfPqIndexAppend(annIx, survivors)
        val (rebuiltAnn, np, rebuilt) = Similarity.ivfPqRebuildIfStale(grownAnn,
          m, ksub, coarseIters, pqIters, geometryFactor)
        val served =
          if (rebuilt) rebuiltAnn
          else grownAnn.compactIfFragmented(compactMaxPartitions,
            compactWidthFactor, durableRoot = genRoot("ann"))._1
        StandingIndex.roll(served, Seq(annIx, grownAnn))(ix =>
          annOpRef.set((ix, np)))
        // a COMPACTION cut is parquet-rooted: the superseded survivor
        // epochs (the ANN deltas' lineage roots) and older gen roots are
        // unreferenced by anything live — reclaim them in the same roll
        // (the r13 unbounded-_survivors-growth finding). A REBUILD cut
        // keeps lineage through the pre-cut chain, so it leaves the
        // epochs to the next compaction cut.
        if (served.chain.isEmpty && !rebuilt) {
          pruneEpochs(batch.sparkSession, s"$state/_survivors", batchId)
          pruneEpochs(batch.sparkSession, s"$state/_gen/ann", batchId)
        }
        // roll the EMBEDDING catalog on the whole batch (seen-corpus
        // semantics, like the dedup catalog — semantic near-dup checks
        // must see everything that has arrived), then the plane policy
        // ([[Dedup.rebuildEmbIndexIfStale]]: a grown corpus derives more
        // hyperplanes; re-bucketing is one map-side projection over the
        // catalog's own cached vectors) and the compaction policy when
        // it passes through — all three standing structures roll per
        // micro-batch.
        embRef.foreach { ref =>
          val embIx = ref.get()
          val embBatch = batch.select(col("doc_id").as("vec_id"), col("embedding"))
          val grownEmb =
            Dedup.embIndexAppend(embIx, embBatch, col("vec_id"), col("embedding"))
          val (rebuiltEmb, rebucketed) =
            Dedup.rebuildEmbIndexIfStale(grownEmb, embTargetBucket)
          val servedEmb =
            if (rebucketed) rebuiltEmb
            else grownEmb.compactIfFragmented(compactMaxPartitions,
              compactWidthFactor, durableRoot = genRoot("emb"))._1
          StandingIndex.roll(servedEmb, Seq(embIx, grownEmb))(ref.set)
          if (servedEmb.chain.isEmpty && !rebucketed)
            pruneEpochs(batch.sparkSession, s"$state/_gen/emb", batchId)
        }
        // roll the PHASH catalog on the whole batch's media payloads
        // (seen-corpus semantics like the text/embedding catalogs): the
        // fourth standing family — image near-dup state advances with
        // every ingested batch, decode+hash batch-sized, then the
        // compaction policy bounds scheduling width (no geometry policy
        // exists: the band layout is fixed by the hash width)
        phashRef.foreach { ref =>
          val phIx = ref.get()
          val media = batch.select(col("doc_id").as("media_id"), col("payload"))
          val grownPh = Multimodal.phashIndexAppend(phIx, media)
          val (servedPh, _) = grownPh.compactIfFragmented(
            compactMaxPartitions, compactWidthFactor,
            durableRoot = genRoot("phash"))
          StandingIndex.roll(servedPh, Seq(phIx, grownPh))(ref.set)
          // phash cuts are always compaction-fired (no geometry policy)
          if (servedPh.chain.isEmpty)
            pruneEpochs(batch.sparkSession, s"$state/_gen/phash", batchId)
        }
        graft.GraftCaches.unpersistAll()
        ()
      } }
      .start()
  }
}
